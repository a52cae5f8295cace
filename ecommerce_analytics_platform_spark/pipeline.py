"""End-to-end pipeline orchestration — the Spark-native equivalent of the
reference's ``orchestration/run_pipeline.sh:19-23`` three-stage flow
(SURVEY §3): (1) raw → landing ingest, (2) bronze load, (3) silver+gold
models + tests.

One process, one SparkSession — the reference's bash-spawned process
boundaries existed because it mixed Python generators, DuckDB and dbt;
Spark-side everything is lazily-planned DataFrames, so stage boundaries
are just materialization points.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.plans.runner import run_models, run_tests
from ecommerce_analytics_platform_spark.sources.ndjson import (
    enrich_orders,
    read_landing,
    read_orders_raw,
    write_landing,
)
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
from ecommerce_analytics_platform_spark.streaming.ingest import run_backfill


def run_pipeline(
    spark: SparkSession,
    data_lake: str,
    full_refresh: bool = False,
) -> dict:
    """raw NDJSON under <data_lake>/raw/{clickstream,orders} → gold marts.

    Stage 1a: clickstream raw → landing via Structured Streaming
    ``availableNow`` backfill (checkpointed, idempotent — SURVEY §3.1).
    Stage 1b: orders raw → landing via one batch job (reference
    batch_ingest.py:6-41).
    Stage 2: landing → bronze, at-most-once per ingest_date (bronze.py).
    Stage 3: the 16-model DAG + schema tests (dbt_runner.py flow).
    """
    raw_click = os.path.join(data_lake, "raw", "clickstream")
    raw_orders = os.path.join(data_lake, "raw", "orders")
    landing_click = os.path.join(data_lake, "landing", "clickstream")
    landing_orders = os.path.join(data_lake, "landing", "orders")
    checkpoint = os.path.join(data_lake, "checkpoints", "clickstream")
    wh = Warehouse(spark, os.path.join(data_lake, "warehouse"))

    # -- stage 1a: clickstream (streaming backfill)
    run_backfill(spark, raw_click, landing_click, checkpoint)

    # -- stage 1b: orders (batch)
    orders = enrich_orders(read_orders_raw(spark, raw_orders))
    write_landing(orders, landing_orders, ["ingest_date"], mode="overwrite")

    # -- stage 2: bronze (idempotent per ingest_date)
    wh.append_new_dates(
        read_landing(spark, landing_click),
        "bronze.clickstream",
        enrich={"bronze_ingested_at": F.current_timestamp()},
    )
    wh.append_new_dates(
        read_landing(spark, landing_orders),
        "bronze.orders",
        enrich={"bronze_ingested_at": F.current_timestamp()},
    )
    bronze_counts = {
        "bronze.clickstream": wh.validate_table("bronze.clickstream"),
        "bronze.orders": wh.validate_table("bronze.orders"),
    }

    # -- stage 3: models + tests
    model_counts = run_models(wh, full_refresh=full_refresh)
    test_results = run_tests(wh)
    return {"bronze": bronze_counts, "models": model_counts, "tests": test_results}
