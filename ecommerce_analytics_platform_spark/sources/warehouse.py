"""Warehouse: parquet-backed tables with medallion-layer load semantics.

The reference's warehouse is a single DuckDB file with schemas
bronze/staging/marts (reference spark_jobs/bronze.py:11-18,
dbt_project/macros/generate_schema_name.sql). Here: one parquet directory
per table under a root, addressed "schema.table" — the layout a metastore
catalog (``saveAsTable``) would manage on a real cluster; plain dirs keep
the engine self-contained and testable.

Load semantics ported:

- S7 idempotent DDL + append (bronze.py:16,38-49): first write creates.
- P7/J10 **bronze at-most-once-per-ingest_date append**: only partitions
  whose ``ingest_date`` has never been seen are appended (bronze.py:32-34 —
  ``WHERE ingest_date NOT IN (SELECT DISTINCT ingest_date FROM target)``)
  → left-anti join here. A date that later receives more landing data is
  NOT topped up — reference semantics preserved (SURVEY §3.2).
- A11 row-count validation (spark_jobs/helper_functions.py:1-7), counted
  from the parquet footers (:meth:`Warehouse.row_count`).

Scale notes: the anti-join's build side is the *distinct ingest_dates* of
the target (tiny — one row per day), so Catalyst broadcasts it; the landing
scan prunes to surviving partitions. Appends are directory-level (new files
only), never rewrite existing data.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ecommerce_analytics_platform_spark.sources.evolution import (
    align_to_schema,
    evolve_schema,
)


def has_parquet(path: str) -> bool:
    """Whether the directory ``path`` holds at least one parquet data
    file (anywhere below it) — a parquet dir is readable iff it does."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


class Warehouse:
    """Parquet-dir table catalog with medallion load operations."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        """'schema.table' → <root>/<schema>/<table>."""
        return os.path.join(self.root, *table.split("."))

    def exists(self, table: str) -> bool:
        return has_parquet(self.path(table))

    # -- declared-schema sidecar (additive evolution) ----------------------

    def _schema_path(self, table: str) -> str:
        # leading underscore: Spark's parquet file index ignores it
        return os.path.join(self.path(table), "_schema.json")

    def declared_schema(self, table: str) -> StructType | None:
        """The table's current logical schema, if one has been declared
        (written by every :meth:`overwrite`/:meth:`append` since the
        sidecar was introduced; absent for legacy dirs → None)."""
        try:
            with open(self._schema_path(table)) as f:
                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def _write_declared_schema(self, table: str, schema: StructType) -> None:
        p = self._schema_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(schema.jsonValue(), indent=1))
        os.replace(tmp, p)  # atomic swap — readers never see a torn file

    def read(self, table: str) -> DataFrame:
        declared = self.declared_schema(table)
        if declared is not None:
            # explicit read schema = NULL back-fill for columns a file
            # predates, with no mergeSchema footer sweep (see
            # sources/evolution.py module docs)
            return self.spark.read.schema(declared).parquet(self.path(table))
        return self.spark.read.parquet(self.path(table))

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """dbt ``table`` materialization: full rebuild (SURVEY §2.1 S10)."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        # an overwrite REDEFINES the table, so the declared schema is
        # simply the new df's (evolution applies to appends only)
        self._write_declared_schema(table, evolve_schema(None, df.schema))

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        on_schema_change: str = "append_new_columns",
    ) -> None:
        """Append with the reference's ``on_schema_change:
        append_new_columns`` contract (dbt_project.yml:29): a batch
        carrying never-seen columns lands them additively — existing
        files are untouched and read back NULL for the new columns via
        the declared-schema sidecar — while a TYPE change for an
        existing column raises :class:`SchemaEvolutionError`. Pass
        ``on_schema_change="fail"`` to reject new columns instead.

        Concurrency: plain warehouse dirs have no commit protocol — two
        simultaneous appends race on the sidecar (``os.replace`` is
        atomic, last writer wins, so one writer's widening could be
        shadowed until its next append re-unions). Single-writer-per-
        table is this layer's contract (it mirrors the reference's
        single-process loads); multi-writer evolution belongs to
        ManifestTable, whose schema key rebases through the OCC loop."""
        existing = self.declared_schema(table)
        if existing is None and self.exists(table):
            # legacy dir predating the sidecar: bootstrap from the files
            existing = self.spark.read.parquet(self.path(table)).schema
        union = evolve_schema(existing, df.schema, on_schema_change)
        df = align_to_schema(df, union)
        # sidecar FIRST, data files second: a declared column with no
        # data yet just back-fills NULL (always safe), whereas files
        # carrying an undeclared column are silently hidden on read — so
        # a crash between the two steps must leave the former state, not
        # the latter (ADVICE r7 crash-window ordering)
        self._write_declared_schema(table, union)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append_new_dates(
        self,
        df: DataFrame,
        table: str,
        date_col: str = "ingest_date",
        enrich: dict[str, F.Column] | None = None,
    ) -> None:
        """Bronze load: append only never-seen ``date_col`` partitions.

        Reference spark_jobs/bronze.py:24-49 — `INSERT INTO bronze.X
        SELECT *, CURRENT_TIMESTAMP AS bronze_ingested_at FROM landing
        WHERE ingest_date NOT IN (SELECT DISTINCT ingest_date FROM bronze.X)`.
        NOT IN → left-anti join (Catalyst's own rewrite; keys are non-null).
        """
        for name, col in (enrich or {}).items():
            df = df.withColumn(name, col)
        if self.exists(table):
            seen = self.read(table).select(date_col).distinct()
            df = df.join(F.broadcast(seen), on=date_col, how="left_anti")
        self.append(df, table, partition_by=[date_col])

    def row_count(self, table: str) -> int:
        """Rows of ``table`` from parquet footers alone (no Spark job):
        ``num_rows`` summed over the files Spark's reader lists. Like
        Spark, names starting with ``_`` or ``.`` are skipped, except
        partition directories (names with ``=``)."""
        import pyarrow.parquet as pq

        def listed(name: str) -> bool:
            return not (name.startswith(".") or (name.startswith("_") and "=" not in name))

        def missing(err: OSError):
            raise err

        n = 0
        for root, dirs, files in os.walk(self.path(table), onerror=missing):
            dirs[:] = [d for d in dirs if listed(d)]
            n += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files if listed(f)
            )
        return n

    def validate_table(self, table: str, min_rows: int = 1) -> int:
        """Row-count smoke validation (reference
        spark_jobs/helper_functions.py:1-7, called bronze.py:85,88)."""
        n = self.row_count(table)
        if n < min_rows:
            raise AssertionError(f"{table}: expected >= {min_rows} rows, got {n}")
        return n
