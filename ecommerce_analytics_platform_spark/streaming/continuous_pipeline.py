"""Continuous medallion: streaming ingest driving incremental silver/gold.

The reference's orchestration is batch-after-batch: polling ingest, then a
bronze load, then a full dbt run (SURVEY §3). The Spark-native end state is
one streaming query whose ``foreachBatch`` hook lands each micro-batch AND
advances the incremental models — exactly-once per micro-batch via the
streaming checkpoint + idempotent merge keys.

:func:`start_continuous_silver` is the two steps ``streaming/gold.py``
also runs: :func:`start_clickstream_stream` and :func:`land_and_merge_events`.

Why foreachBatch (not a pure streaming DAG): the silver models need
delete+insert merge semantics on arbitrary unique keys (SURVEY S10/P8),
which file sinks can't express — foreachBatch gives each micro-batch a
batch DataFrame + monotonic batch_id to run the same batch operators the
orchestrated pipeline uses. One code path (plans/models.py) serves both
batch and streaming — the lambda-architecture trap (two divergent
implementations) is avoided by construction.

Exactly-once: the checkpoint guarantees each file lands in exactly one
micro-batch; re-delivered batches (failure replay) re-merge with the same
unique keys, so the merge is idempotent — the same guarantee chain Delta's
txn log would provide, built from checkpoint + keyed merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ecommerce_analytics_platform_spark.plans.models import stg_clickstream_events
from ecommerce_analytics_platform_spark.plans.runner import merge_model
from ecommerce_analytics_platform_spark.sources.ndjson import enrich_clickstream
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
from ecommerce_analytics_platform_spark.streaming.ingest import read_clickstream_stream


def land_and_merge_events(wh: Warehouse, batch_df: DataFrame, batch_id: int) -> DataFrame:
    """One micro-batch's bronze append + incremental stg_clickstream_events
    merge (delete+insert on event_id); returns the batch's silver rows.

    The micro-batch is the incremental unit, so no lookback filter is
    needed — late/duplicate rows in later batches re-merge by key, which
    is the same convergence the 1-day lookback gives the batch DAG.
    """
    landed = enrich_clickstream(batch_df, batch_id=batch_id)
    wh.append(landed, "bronze.clickstream", partition_by=["ingest_date"])
    silver_batch = stg_clickstream_events(landed)
    # the table is partitioned by event_date, so the merge rewrites ONLY
    # the dates present in the batch (replaceWhere pruning)
    merge_model(wh, "staging.stg_clickstream_events", silver_batch)
    return silver_batch


def start_clickstream_stream(
    spark: SparkSession,
    raw_dir: str,
    checkpoint_dir: str,
    process_batch,
    available_now: bool = True,
) -> StreamingQuery:
    """``process_batch(df, batch_id)`` on each micro-batch of the raw
    clickstream under ``raw_dir``; ``available_now`` stops when drained."""
    writer = (
        read_clickstream_stream(spark, raw_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_continuous_silver(
    spark: SparkSession,
    raw_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """raw NDJSON stream → per-micro-batch :func:`land_and_merge_events`."""
    wh = Warehouse(spark, warehouse_root)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        land_and_merge_events(wh, batch_df, batch_id)

    return start_clickstream_stream(spark, raw_dir, checkpoint_dir, process_batch, available_now)
