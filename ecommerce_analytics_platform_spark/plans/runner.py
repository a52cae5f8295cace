"""Declarative model runner — the reference's dbt DAG as a thin Spark-native
harness (SURVEY §3.3, §7: "a thin Python DAG runner where each model is a
DataFrame-building function materialized … with full control over MERGE
semantics and testability").

A :class:`ModelSpec` = builder + deps + materialization config — the
equivalent of a dbt model file + its ``{{ config(...) }}`` block
(reference dbt_project/dbt_project.yml:26-52). ``run_models`` executes the
DAG against a :class:`Warehouse` with :func:`run_dag`, each model as soon
as its deps are written (dbt's ``threads``); incremental models get the
1-day sliding lookback + delete+insert merge (operators/incremental.py)
matching the reference's declared configs; ``full_refresh=True`` matches
``dbt run --full-refresh`` (which the shipped orchestration always uses for
staging — reference spark_jobs/dbt_runner.py:59-63).

Data tests port the schema.yml contract (SURVEY §5): not_null/unique PKs,
relationships (FK containment), expression invariants — executed by
``run_tests`` like ``dbt test`` (dbt_runner.py:66-69,88-91).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.operators.incremental import (
    lookback_filter,
    merge_delete_insert,
)
from ecommerce_analytics_platform_spark.plans import models as M
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

T = TypeVar("T")


@dataclass
class ModelSpec:
    name: str                       # "schema.table"
    deps: list[str]                 # upstream "schema.table" names
    builder: Callable[..., DataFrame]  # positional args = deps order
    materialized: str = "table"     # "table" | "incremental"
    unique_key: list[str] = field(default_factory=list)
    # incremental predicate on the model's output: ts column, strict > vs
    # >= — reference models vary (fact_orders uses >)
    lookback_col: str | None = None
    lookback_strict: bool = False
    partition_by: list[str] | None = None


# The reference DAG (SURVEY §3.3), dbt configs from each model's config block.
MODELS: list[ModelSpec] = [
    ModelSpec(
        "staging.stg_clickstream_events", ["bronze.clickstream"], M.stg_clickstream_events,
        materialized="incremental", unique_key=["event_id"],
        lookback_col="pipeline_ingested_at", partition_by=["event_date"],
    ),
    ModelSpec(
        "staging.stg_clickstream_sessions", ["staging.stg_clickstream_events"],
        M.stg_clickstream_sessions_bucketed,
        materialized="incremental", unique_key=["session_id"],
        lookback_col="session_end_ts", partition_by=["s_bucket"],
    ),
    ModelSpec(
        "staging.stg_orders", ["bronze.orders"], M.stg_orders,
        materialized="incremental", unique_key=["order_id"],
        lookback_col="pipeline_ingested_at",
    ),
    ModelSpec(
        "staging.stg_order_items", ["staging.stg_orders"], M.stg_order_items,
        materialized="incremental", unique_key=["order_id", "product_id"],
        lookback_col="pipeline_ingested_at",
    ),
    ModelSpec(
        "marts.fact_events", ["staging.stg_clickstream_events"], M.fact_events,
        materialized="incremental", unique_key=["event_id"],
        lookback_col="event_ts", partition_by=["event_date"],
    ),
    ModelSpec(
        "marts.fact_sessions",
        ["staging.stg_clickstream_sessions", "staging.stg_orders"], M.fact_sessions,
        materialized="incremental", unique_key=["session_id"],
        lookback_col="session_start_ts",
    ),
    ModelSpec(
        "marts.fact_orders", ["staging.stg_orders"], M.fact_orders,
        materialized="incremental", unique_key=["order_id"],
        lookback_col="order_ts", lookback_strict=True,
    ),
    ModelSpec(
        "marts.fact_order_items", ["staging.stg_order_items"], M.fact_order_items,
        materialized="incremental", unique_key=["order_id", "product_id"],
        lookback_col="order_ts",
    ),
    ModelSpec("marts.dim_users", ["marts.fact_events", "marts.fact_orders"], M.dim_users),
    ModelSpec("marts.dim_products", ["marts.fact_order_items"], M.dim_products),
    ModelSpec("marts.dim_date", ["marts.fact_events"], M.dim_date),
    ModelSpec("marts.dim_session_context", ["marts.fact_events"], M.dim_session_context),
    ModelSpec(
        "marts.metrics_daily_kpis",
        ["marts.dim_date", "marts.fact_sessions", "marts.fact_orders"],
        M.metrics_daily_kpis,
    ),
    ModelSpec(
        "marts.metrics_daily_funnel", ["marts.fact_events", "marts.fact_orders"],
        M.metrics_daily_funnel,
    ),
    ModelSpec(
        "marts.metrics_user_lifecycle", ["marts.fact_sessions", "marts.fact_orders"],
        M.metrics_user_lifecycle,
    ),
    ModelSpec(
        "marts.metrics_product_performance_daily",
        ["marts.fact_order_items", "marts.fact_orders", "marts.fact_events"],
        M.metrics_product_performance_daily,
    ),
]


def _cycle(unmet: dict[str, set[str]]) -> list[str]:
    """A dependency cycle among ``unmet`` (task -> deps not yet done),
    when every task in it still waits on another one in it."""
    path = [min(unmet)]
    while path[-1] not in path[:-1]:
        path.append(min(unmet[path[-1]]))
    return path[path.index(path[-1]):]


def run_dag(
    spark: SparkSession,
    phase: str,
    tasks: dict[str, Callable[[], T]],
    deps: dict[str, Iterable[str]] | None = None,
) -> dict[str, T]:
    """Run ``tasks`` concurrently, each as soon as its ``deps`` (names of
    other tasks) have finished — dbt's ``threads`` — and return their
    results by name.

    The pool has ``defaultParallelism`` threads, so jobs of independent
    tasks fill task slots another task's driver-side work leaves idle
    (Spark schedules jobs from several threads). Each task's jobs carry
    the tag and description ``<phase>:<name>``. The first failure is
    raised as the task's own exception after the running tasks end: no
    task starts after it, and the running ones have their jobs cancelled
    by tag. A dependency cycle raises ``ValueError`` naming it.
    """
    unmet = {name: set((deps or {}).get(name, ())) for name in tasks}
    unknown = {d for ds in unmet.values() for d in ds} - tasks.keys()
    if unknown:
        raise ValueError(f"unknown dependencies: {sorted(unknown)}")
    sc = spark.sparkContext
    results: dict[str, T] = {}
    failure: BaseException | None = None
    running: dict[Future, str] = {}
    with ThreadPoolExecutor(max_workers=max(1, sc.defaultParallelism)) as pool:
        while unmet or running:
            for name in [n for n, ds in unmet.items() if not ds and failure is None]:
                del unmet[name]
                running[pool.submit(_tagged(spark, f"{phase}:{name}", tasks[name]))] = name
            if not running:
                if failure is None:
                    raise ValueError(f"dependency cycle: {' -> '.join(_cycle(unmet))}")
                break
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                name = running.pop(fut)
                if fut.exception() is None:
                    results[name] = fut.result()
                    for ds in unmet.values():
                        ds.discard(name)
                elif failure is None:
                    failure = fut.exception()
                    for other in running.values():
                        sc.cancelJobsWithTag(f"{phase}:{other}")
    if failure is not None:
        raise failure
    return results


def _tagged(spark: SparkSession, tag: str, fn: Callable[[], T]) -> Callable[[], T]:
    """``fn`` with the caller's Spark local properties (job group, SQL
    execution) and the job tag/description ``tag`` in its pool thread.
    Wrapped per task: the wrapper clones the properties once, and tags
    are added to that clone."""

    @inheritable_thread_target(spark)
    def run() -> T:
        sc = spark.sparkContext
        sc.addJobTag(tag)
        sc.setJobDescription(tag)
        return fn()

    return run


_BY_NAME = {s.name: s for s in MODELS}


def build(name: str, inputs: dict[str, DataFrame]) -> DataFrame:
    """Model ``name`` as a lazy DataFrame. Tables named in ``inputs`` are
    used as they are; every other dependency is built with its
    :class:`ModelSpec` builder and memoized in ``inputs``."""
    if name not in inputs:
        spec = _BY_NAME[name]
        inputs[name] = spec.builder(*(build(d, inputs) for d in spec.deps))
    return inputs[name]


def merge_model(wh: Warehouse, name: str, df: DataFrame) -> None:
    """delete+insert ``df`` into model ``name`` with its declared unique key
    and partition layout — the merge the stream's micro-batches share with
    the batch incremental run."""
    spec = _BY_NAME[name]
    merge_delete_insert(wh.spark, wh.path(name), df, spec.unique_key, spec.partition_by)


def run_models(
    wh: Warehouse,
    specs: list[ModelSpec] | None = None,
    select: list[str] | None = None,
    full_refresh: bool = False,
) -> dict[str, int]:
    """Execute the DAG with :func:`run_dag` (a model starts once its
    deps are written); returns row counts per materialized model, read
    from the written files' parquet footers.

    ``select`` limits to the named models (deps outside it must already
    exist — mirrors ``dbt run --select``). ``full_refresh`` rebuilds
    incrementals from scratch (reference dbt_runner.py:59-63 behavior for
    staging).

    Incremental models are built from full inputs; the lookback then picks
    output rows, so a picked session is rolled up from its full history.
    """
    specs = [s for s in specs or MODELS if not select or s.name in select]
    names = {s.name for s in specs}

    def materialize(s: ModelSpec) -> int:
        df = s.builder(*(wh.read(d) for d in s.deps))
        incremental = (
            s.materialized == "incremental" and not full_refresh and wh.exists(s.name)
        )
        if incremental:
            if s.lookback_col:
                df = lookback_filter(
                    df, wh.read(s.name), s.lookback_col, strict=s.lookback_strict
                )
            merge_delete_insert(
                wh.spark, wh.path(s.name), df, s.unique_key, s.partition_by
            )
        else:
            wh.overwrite(df, s.name, partition_by=s.partition_by)
        return wh.row_count(s.name)

    counts = run_dag(
        wh.spark, "model",
        {s.name: functools.partial(materialize, s) for s in specs},
        {s.name: [d for d in s.deps if d in names] for s in specs},
    )
    return {s.name: counts[s.name] for s in specs}


# ---------------------------------------------------------------------------
# Data tests (reference schema.yml contract, SURVEY §5)
# ---------------------------------------------------------------------------

def assert_not_null(df: DataFrame, cols: list[str]) -> dict[str, int]:
    """dbt ``not_null`` — returns violation counts (0 = pass)."""
    out = {}
    for c in cols:
        out[c] = df.filter(F.col(c).isNull()).count()
    return out


def assert_unique(df: DataFrame, cols: list[str]) -> int:
    """dbt ``unique`` on the column (or composite) — duplicate group count."""
    return df.groupBy(*cols).count().filter(F.col("count") > 1).count()


def assert_relationship(child: DataFrame, col: str, parent: DataFrame, parent_col: str) -> int:
    """dbt ``relationships`` (FK containment, SURVEY J11): child values not
    present in parent — left-anti join + count (0 = pass)."""
    return (
        child.select(F.col(col).alias("k")).filter(F.col("k").isNotNull()).distinct()
        .join(parent.select(F.col(parent_col).alias("k")).distinct(), "k", "left_anti")
        .count()
    )


def assert_expression(df: DataFrame, sql_expr: str) -> int:
    """dbt_utils ``expression_is_true`` — rows violating the expression."""
    return df.filter(~F.expr(sql_expr)).count()


def assert_source_freshness(
    df: DataFrame,
    loaded_at_col: str,
    warn_after_sec: float,
    error_after_sec: float,
    now=None,
) -> str:
    """dbt ``source freshness`` — lag of ``max(loaded_at)`` against now,
    classified pass/warn/error. One max-aggregate per source (no full
    scan beyond the column; parquet column stats make this cheap).
    ``now`` is injectable for tests; defaults to the current UTC time.
    An EMPTY source is 'error' (nothing ever loaded — infinitely stale),
    matching dbt's treatment of a NULL max loaded_at."""
    import datetime

    row = df.agg(F.max(F.col(loaded_at_col)).alias("m")).collect()[0]
    if row["m"] is None:
        return "error"
    if now is None:
        now = datetime.datetime.now(datetime.timezone.utc)
    loaded = row["m"]
    if loaded.tzinfo is None:
        loaded = loaded.replace(tzinfo=datetime.timezone.utc)
    lag = (now - loaded).total_seconds()
    if lag > error_after_sec:
        return "error"
    if lag > warn_after_sec:
        return "warn"
    return "pass"


_DAY = 86400.0

# (table, loaded_at, warn_after_sec, error_after_sec) — the reference's
# drafted-but-disabled source freshness contract, schema.yml:3-111 (every
# source: loaded_at=pipeline_ingested_at, warn 1 day, error 2 days).
# stg_clickstream_sessions is omitted: it is a pure rollup of stg_events
# with no lineage column of its own (its freshness IS the events table's).
FRESHNESS_CONTRACT = [
    ("bronze.clickstream", "pipeline_ingested_at", 1 * _DAY, 2 * _DAY),
    ("bronze.orders", "pipeline_ingested_at", 1 * _DAY, 2 * _DAY),
    ("staging.stg_clickstream_events", "pipeline_ingested_at", 1 * _DAY, 2 * _DAY),
    ("staging.stg_orders", "pipeline_ingested_at", 1 * _DAY, 2 * _DAY),
]


def run_freshness(wh: Warehouse, now=None) -> dict[str, str]:
    """Evaluate :data:`FRESHNESS_CONTRACT` against the warehouse —
    ``dbt source freshness`` for the lakehouse. Missing tables report
    'error' (a source that was never loaded is the stalest possible)."""
    out: dict[str, str] = {}
    for table, col, warn_s, err_s in FRESHNESS_CONTRACT:
        if not wh.exists(table):
            out[table] = "error"
            continue
        out[table] = assert_source_freshness(wh.read(table), col, warn_s, err_s, now=now)
    return out


def run_tests(wh: Warehouse) -> dict[str, int]:
    """Port of the schema.yml test contract; returns failures per test id
    (all zeros = green). Mirrors ``dbt test`` at dbt_runner.py:66-69,88-91;
    the tests are independent, so :func:`run_dag` runs them all at once."""
    stg_ev = wh.read("staging.stg_clickstream_events")
    stg_sess = wh.read("staging.stg_clickstream_sessions")
    stg_ord = wh.read("staging.stg_orders")
    stg_items = wh.read("staging.stg_order_items")
    fe = wh.read("marts.fact_events")
    fo = wh.read("marts.fact_orders")
    fs = wh.read("marts.fact_sessions")
    foi = wh.read("marts.fact_order_items")
    dd = wh.read("marts.dim_date")
    du = wh.read("marts.dim_users")
    dp = wh.read("marts.dim_products")
    dsc = wh.read("marts.dim_session_context")
    mul = wh.read("marts.metrics_user_lifecycle")
    mpp = wh.read("marts.metrics_product_performance_daily")
    tests = {
        "stg_events.event_id.not_null": lambda: assert_not_null(stg_ev, ["event_id"])["event_id"],
        "stg_events.event_id.unique": lambda: assert_unique(stg_ev, ["event_id"]),
        "stg_sessions.session_id.unique": lambda: assert_unique(stg_sess, ["session_id"]),
        "stg_sessions.duration_nonneg": lambda: assert_expression(
            stg_sess, "session_duration_sec >= 0"
        ),
        "stg_orders.order_id.unique": lambda: assert_unique(stg_ord, ["order_id"]),
        "stg_orders.total_nonneg": lambda: assert_expression(
            stg_ord, "order_total_amount is null or order_total_amount >= 0"
        ),
        "stg_order_items.pk.unique": lambda: assert_unique(stg_items, ["order_id", "product_id"]),
        "stg_order_items.quantity_pos": lambda: assert_expression(stg_items, "quantity > 0"),
        "fact_events.event_id.unique": lambda: assert_unique(fe, ["event_id"]),
        "fact_events.date_fk": lambda: assert_relationship(fe, "event_date", dd, "date"),
        "fact_events.user_fk": lambda: assert_relationship(fe, "user_id", du, "user_id"),
        "fact_events.session_fk": lambda: assert_relationship(fe, "session_id", dsc, "session_id"),
        "fact_sessions.session_id.unique": lambda: assert_unique(fs, ["session_id"]),
        "fact_sessions.user_fk": lambda: assert_relationship(fs, "user_id", du, "user_id"),
        "fact_sessions.revenue_nonneg": lambda: assert_expression(fs, "revenue_in_session >= 0"),
        "fact_orders.order_id.unique": lambda: assert_unique(fo, ["order_id"]),
        "fact_orders.user_fk": lambda: assert_relationship(fo, "user_id", du, "user_id"),
        "fact_order_items.pk.unique": lambda: assert_unique(foi, ["order_id", "product_id"]),
        "fact_order_items.order_fk": lambda: assert_relationship(foi, "order_id", fo, "order_id"),
        "fact_order_items.product_fk": lambda: assert_relationship(
            foi, "product_id", dp, "product_id"
        ),
        "fact_order_items.quantity_pos": lambda: assert_expression(foi, "quantity > 0"),
        "user_lifecycle.user_fk": lambda: assert_relationship(mul, "user_id", du, "user_id"),
        "user_lifecycle.days_nonneg": lambda: assert_expression(
            mul, "days_to_first_purchase is null or days_to_first_purchase >= 0"
        ),
        "product_perf.product_fk": lambda: assert_relationship(mpp, "product_id", dp, "product_id"),
        "product_perf.revenue_nonneg": lambda: assert_expression(mpp, "product_revenue >= 0"),
    }
    results = run_dag(wh.spark, "test", tests)
    return {name: results[name] for name in tests}
