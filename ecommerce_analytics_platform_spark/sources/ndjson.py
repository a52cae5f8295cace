"""NDJSON ingest → typed, lineage-enriched, partitioned parquet landing.

Reference pipeline (SURVEY §2.1, §3.1):

- S2/S3 schema-enforced NDJSON readers (reference
  ingestion/streaming_ingest.py:91-107, ingestion/batch_ingest.py:13-30)
- P3/P4 casts with TRY_CAST null-on-failure semantics
  (streaming_ingest.py:76-80)
- F2/F3/P12 lineage enrichment: source_ingested_at, pipeline_ingested_at,
  ingest_date (yyyy-MM-dd string), source_system literal, batch_id
  (streaming_ingest.py:80-90, batch_ingest.py:27-29)
- S4/S5 Hive-partitioned parquet sinks (streaming_ingest.py:109-110,
  batch_ingest.py:34-41)
- S8 small-file compaction (streaming_ingest.py:121-174)

Scale notes (100 TB): the reader is schema-on-read (no inference pass);
the sink partitions by (ingest_date[, batch_id]) so bronze and silver can
partition-prune; compaction exists exactly because streaming sinks produce
one file per micro-batch — at scale run it per-partition (embarrassingly
parallel, no shuffle: coalesce within partition only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.sources.schemas import (
    CLICKSTREAM_RAW_SCHEMA,
    ORDERS_RAW_SCHEMA,
)


def read_clickstream_raw(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced NDJSON read (reference S2). ``path`` may be a file,
    dir, or glob; schema-on-read, no inference pass."""
    return spark.read.schema(CLICKSTREAM_RAW_SCHEMA).json(path)


def read_orders_raw(spark: SparkSession, path: str) -> DataFrame:
    """Orders NDJSON with the nested items array (reference S3). The
    reference infers this schema (batch_ingest.py:30) — explicit here
    (SURVEY §1.2: inference is an extra pass + nondeterministic on empty)."""
    return spark.read.schema(ORDERS_RAW_SCHEMA).json(path)


def enrich_clickstream(
    df: DataFrame, source_system: str = "clickstream_producer", batch_id: int | None = None
) -> DataFrame:
    """Typed + lineage-enriched landing projection.

    Reference streaming_ingest.py:73-90: TRY_CAST(event_time AS TIMESTAMP)
    → Spark ``try_to_timestamp`` (null on bad input, SURVEY P4 — plain
    ``to_timestamp`` THROWS under Spark 4 ANSI mode); lineage columns
    source_ingested_at (=ingest_time), pipeline_ingested_at (=now),
    ingest_date (strftime %Y-%m-%d of pipeline time → date_format F2),
    source_system literal, batch_id literal.
    """
    now = F.current_timestamp()
    out = (
        df.withColumn("event_time", F.try_to_timestamp("event_time"))
        .withColumn("source_ingested_at", F.col("ingest_time"))
        .withColumn("pipeline_ingested_at", now)
        .withColumn("ingest_date", F.date_format(now, "yyyy-MM-dd"))
        .withColumn("source_system", F.lit(source_system))
    )
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(batch_id).cast("long"))
    return out


def enrich_orders(df: DataFrame, source_system: str = "orders_batch") -> DataFrame:
    """Orders landing projection (reference batch_ingest.py:17-29)."""
    now = F.current_timestamp()
    return (
        df.withColumn("source_ingested_at", F.col("ingest_time"))
        .withColumn("pipeline_ingested_at", now)
        .withColumn("ingest_date", F.date_format(now, "yyyy-MM-dd"))
        .withColumn("source_system", F.lit(source_system))
    )


def write_landing(
    df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "append"
) -> None:
    """Hive-partitioned parquet sink (reference S4/S5: DuckDB COPY ...
    PARTITION_BY / pandas per-partition write → one ``partitionBy`` write)."""
    partition_cols = partition_cols or ["ingest_date"]
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def read_landing(spark: SparkSession, path: str) -> DataFrame:
    """Hive-partitioned parquet scan (reference S6). Discovery infers
    ``ingest_date`` as DATE; it is cast back to the ``yyyy-MM-dd`` string
    ``enrich_*`` emit, so bronze has one type for it on batch and stream."""
    df = spark.read.parquet(path)
    return df.withColumn("ingest_date", F.col("ingest_date").cast("string"))


def compact_landing(spark: SparkSession, path: str, partition_col: str = "ingest_date") -> int:
    """Small-file compaction (reference S8, streaming_ingest.py:121-174):
    rewrite each partition dir to a single file.

    Never overwrites the directory it is lazily reading: the compacted
    table is fully written to a ``__tmp`` sibling first, then published
    with the same rename swap + crash recovery as ``merge_delete_insert``
    (an in-place ``mode("overwrite")`` deletes the landing data before the
    read executes under Spark's default STATIC partitionOverwriteMode).
    Returns number of partitions compacted. At 100 TB: repartition(1) per
    date is only right if a date fits one file; size-based
    ``repartitionByRange`` or Delta OPTIMIZE replaces it.
    """
    import uuid

    from ecommerce_analytics_platform_spark.operators.incremental import (
        recover_swap,
        swap_into_place,
    )

    recover_swap(path)
    df = spark.read.parquet(path)
    parts = [r[0] for r in df.select(partition_col).distinct().collect()]
    tmp_path = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    (
        df.repartition(1, F.col(partition_col))
        .sortWithinPartitions(partition_col)
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(tmp_path)
    )
    swap_into_place(path, tmp_path)
    return len(parts)


def write_ndjson_fixture(rows: list[dict], path: str) -> str:
    """Test-fixture NDJSON writer (reference S1 ``write_events_counted``,
    producers/linked_clickstream_order_generator.py:301-315): one JSON object
    per line, parent dirs created. Plain Python by design — fixture code."""
    import json

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return path
