"""Silver (staging) + gold (marts) models — the reference's full dbt DAG as
pure DataFrame transformations.

Each function maps 1:1 to a reference model (citation in its docstring) and
takes input DataFrames → returns the model DataFrame. Materialization
(table/incremental, unique keys, lookbacks) is declared in
``plans/runner.py``'s MODEL registry — builders stay pure so they are unit-
testable and reusable in both batch and ``foreachBatch`` streaming contexts.

Documented deviations from the reference (SURVEY §2.9 — intended semantics
built, bug preserved nowhere):

1. stg_clickstream_events incremental predicate: reference has a ``select
   select`` typo (stg_clickstream_events.sql:20) that breaks incremental
   runs; we implement the evident intent (1-day sliding lookback).
2. stg_clickstream_sessions incremental subquery is malformed
   (stg_clickstream_sessions.sql:15-18); same intent implemented.
3. Funnel/product metrics filter ``event_type = 'product_view'`` but the
   generator emits ``view_product`` (linked_clickstream_order_generator.py:49)
   — metrics would be constant 0. We use :data:`PRODUCT_VIEW_EVENT` =
   ``view_product`` per the declared intent (schema.yml:644-648).
4. Revenue includes cancelled orders (reference never filters order_status;
   schema.yml says "completed"). We KEEP reference behavior (no filter) for
   numeric parity — flag available via ``completed_only``.

Scale notes: every groupBy key here (event_id, session_id, order_id,
user_id, (date, product_id)) is high-cardinality and ~uniform, so the plans
are single-shuffle hash aggregations; daily rollups then broadcast-join
(dates are tiny). The dedup windows shuffle once on the unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.functions.compat import (
    dow_sunday0,
    epoch_seconds_between,
    is_weekend,
)
from ecommerce_analytics_platform_spark.operators.dedup import dedup_latest

# Deviation #3: the generator's real product-view event name.
PRODUCT_VIEW_EVENT = "view_product"


# ---------------------------------------------------------------------------
# Silver / staging
# ---------------------------------------------------------------------------

def stg_clickstream_events(bronze_clickstream: DataFrame) -> DataFrame:
    """Latest-record dedup + typed projection.

    Reference dbt_project/models/staging/stg_clickstream_events.sql:8-53
    (SURVEY W1, P3/P5, F1): drop unparseable event_time, keep latest row per
    event_id by pipeline_ingested_at (event_id desc tiebreak added for
    determinism — SURVEY §7 watch-list), project typed columns.
    """
    deduped = dedup_latest(
        bronze_clickstream.filter(F.col("event_time").isNotNull()),
        ["event_id"],
        [F.desc("pipeline_ingested_at")],
    )
    return deduped.select(
        "event_id",
        "event_type",
        "user_id",
        "session_id",
        "product_id",
        F.col("event_time").cast("timestamp").alias("event_ts"),
        F.col("event_time").cast("date").alias("event_date"),
        F.upper("country").alias("country"),
        "device",
        "experiment_id",
        "referrer",
        "source_system",
        "pipeline_ingested_at",
    )


def stg_clickstream_sessions(stg_events: DataFrame) -> DataFrame:
    """Per-session rollup: min/max ts, count, duration seconds.

    Reference staging/stg_clickstream_sessions.sql:22-45 (SURVEY A1, F4).
    Sessionization itself is upstream (ids from the producer) — this is a
    pure groupBy (SURVEY §2.8).
    """
    rollup = stg_events.groupBy("session_id", "user_id").agg(
        F.min("event_ts").alias("session_start_ts"),
        F.max("event_ts").alias("session_end_ts"),
        F.count(F.lit(1)).alias("event_count"),
    )
    return rollup.select(
        "session_id",
        "user_id",
        "session_start_ts",
        "session_end_ts",
        epoch_seconds_between("session_start_ts", "session_end_ts").alias(
            "session_duration_sec"
        ),
        "event_count",
    )


SESSION_BUCKETS = 16


def stg_clickstream_sessions_bucketed(stg_events: DataFrame) -> DataFrame:
    """:func:`stg_clickstream_sessions` plus its storage bucket ``s_bucket``,
    the layout batch and stream both merge into (a late event can move a
    session's start date but never its bucket)."""
    return stg_clickstream_sessions(stg_events).withColumn(
        "s_bucket", F.pmod(F.hash("session_id"), F.lit(SESSION_BUCKETS))
    )


def stg_orders(bronze_orders: DataFrame) -> DataFrame:
    """Order dedup + per-array item_count / order_total_amount.

    Reference staging/stg_orders.sql:7-58 (SURVEY W2, F10/A10): the
    count/sum-over-unnest scalar subqueries become ``size()`` and an
    ``aggregate()`` higher-order fold — explode-free, no extra shuffle.
    """
    deduped = dedup_latest(
        bronze_orders.filter(F.col("order_time").isNotNull()),
        ["order_id"],
        [F.desc("pipeline_ingested_at")],
    )
    order_total = F.aggregate(
        "items",
        F.lit(0.0),
        lambda acc, x: acc + x["quantity"] * x["price"],
    )
    return deduped.select(
        "order_id",
        "user_id",
        "session_id",
        "items",
        "order_status",
        F.col("order_time").cast("timestamp").alias("order_ts"),
        F.size("items").cast("long").alias("item_count"),
        order_total.alias("order_total_amount"),
        "source_system",
        "pipeline_ingested_at",
    )


def stg_order_items(stg_orders_df: DataFrame) -> DataFrame:
    """Explode order items to line grain (order_id × product_id).

    Reference staging/stg_order_items.sql:7-19 (SURVEY F9/J9): ``cross join
    unnest(items)`` → ``explode`` (not a join in Spark).
    """
    exploded = stg_orders_df.select(
        "order_id",
        "user_id",
        "session_id",
        F.explode("items").alias("item"),
        "order_ts",
        "pipeline_ingested_at",
    )
    return exploded.select(
        "order_id",
        "user_id",
        "session_id",
        F.col("item.product_id").alias("product_id"),
        F.col("item.quantity").alias("quantity"),
        F.col("item.price").alias("price"),
        (F.col("item.quantity") * F.col("item.price")).alias("line_amount"),
        "order_ts",
        "pipeline_ingested_at",
    )


# ---------------------------------------------------------------------------
# Gold / facts
# ---------------------------------------------------------------------------

def fact_events(stg_events: DataFrame) -> DataFrame:
    """Event fact — reference marts/core/facts/fact_events.sql:8-22."""
    return stg_events.select(
        "event_id",
        "event_ts",
        "event_date",
        "event_type",
        "user_id",
        "session_id",
        "product_id",
        "country",
        "device",
        "referrer",
        "source_system",
        "experiment_id",
    )


def fact_sessions(stg_sessions: DataFrame, stg_orders_df: DataFrame) -> DataFrame:
    """Session fact + order rollup join.

    Reference marts/core/facts/fact_sessions.sql:8-48 (SURVEY J1, A2,
    P10/P11): per-session order count/revenue, left-joined; has_order flag.
    """
    orders_by_session = stg_orders_df.groupBy("session_id").agg(
        F.countDistinct("order_id").alias("orders_in_session"),
        F.sum("order_total_amount").alias("revenue_in_session"),
    )
    s = stg_sessions.select(
        "session_id",
        "user_id",
        "session_start_ts",
        "session_end_ts",
        "session_duration_sec",
        "event_count",
    )
    return (
        s.join(orders_by_session, "session_id", "left")
        .select(
            "session_id",
            "user_id",
            "session_start_ts",
            "session_end_ts",
            "session_duration_sec",
            "event_count",
            (F.coalesce("orders_in_session", F.lit(0)) > 0).alias("has_order"),
            F.coalesce("orders_in_session", F.lit(0)).alias("orders_in_session"),
            F.coalesce("revenue_in_session", F.lit(0.0)).alias("revenue_in_session"),
        )
    )


def fact_orders(stg_orders_df: DataFrame, completed_only: bool = False) -> DataFrame:
    """Order fact — reference marts/core/facts/fact_orders.sql:8-18.

    ``completed_only`` implements the schema.yml-declared contract
    ("completed orders"); default False preserves reference behavior
    (cancelled orders included — deviation #4 documented, not applied).
    """
    df = stg_orders_df
    if completed_only:
        df = df.filter(F.col("order_status") != "cancelled")
    return df.select(
        "order_id",
        "user_id",
        "session_id",
        "order_ts",
        F.col("order_ts").cast("date").alias("order_date"),
        "order_status",
        "item_count",
        "order_total_amount",
    )


def fact_order_items(stg_order_items_df: DataFrame) -> DataFrame:
    """Order-item fact — reference marts/core/facts/fact_order_items.sql:8-19."""
    return stg_order_items_df.select(
        "order_id",
        "product_id",
        "user_id",
        "session_id",
        "quantity",
        "price",
        "line_amount",
        "order_ts",
        F.col("order_ts").cast("date").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# Gold / dimensions
# ---------------------------------------------------------------------------

def dim_users(fact_events_df: DataFrame, fact_orders_df: DataFrame) -> DataFrame:
    """User dimension — reference marts/core/dimensions/dim_users.sql:5-37
    (SURVEY A3, J2, P5/P10)."""
    user_events = (
        fact_events_df.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("event_ts").alias("first_seen_ts"),
            F.max("event_ts").alias("last_seen_ts"),
        )
    )
    user_orders = (
        fact_orders_df.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("order_ts").alias("first_order_ts"),
            F.countDistinct("order_id").alias("total_orders"),
            F.sum("order_total_amount").alias("lifetime_revenue"),
        )
    )
    return user_events.join(user_orders, "user_id", "left").select(
        "user_id",
        "first_seen_ts",
        "last_seen_ts",
        "first_order_ts",
        F.coalesce("total_orders", F.lit(0)).alias("total_orders"),
        F.coalesce("lifetime_revenue", F.lit(0.0)).alias("lifetime_revenue"),
    )


def dim_products(fact_order_items_df: DataFrame) -> DataFrame:
    """Product dimension from sold items — reference
    marts/core/dimensions/dim_products.sql:5-12 (SURVEY A4). NB: the raw
    product catalog is never loaded by the reference (SURVEY §1.2)."""
    return (
        fact_order_items_df.filter(F.col("product_id").isNotNull())
        .groupBy("product_id")
        .agg(
            F.min("order_ts").alias("first_sold_ts"),
            F.sum("quantity").alias("total_units_sold"),
            F.sum("line_amount").alias("total_revenue"),
        )
    )


def dim_date(fact_events_df: DataFrame) -> DataFrame:
    """Calendar dimension — reference marts/core/dimensions/dim_date.sql:5-28
    (SURVEY F5/F8): generate_series over event-date bounds → sequence +
    explode; DuckDB dow(0=Sun) weekend flag via compat."""
    bounds = fact_events_df.agg(
        F.min("event_date").alias("min_date"), F.max("event_date").alias("max_date")
    )
    spine = bounds.select(
        F.explode(F.sequence("min_date", "max_date", F.expr("interval 1 day"))).alias("date")
    )
    return spine.select(
        "date",
        F.dayofmonth("date").cast("long").alias("day"),
        F.weekofyear("date").cast("long").alias("week"),
        F.month("date").cast("long").alias("month"),
        F.quarter("date").cast("long").alias("quarter"),
        F.year("date").cast("long").alias("year"),
        is_weekend("date").alias("is_weekend"),
    )


def dim_session_context(fact_events_df: DataFrame) -> DataFrame:
    """First-event-of-session attributes — reference
    marts/core/dimensions/dim_session_context.sql:5-35 (SURVEY W3).
    event_id tiebreak added: equal event_ts ties are nondeterministic in
    both engines (SURVEY §7 watch-list)."""
    w = Window.partitionBy("session_id").orderBy(F.asc("event_ts"), F.asc("event_id"))
    return (
        fact_events_df.filter(F.col("session_id").isNotNull())
        .select("session_id", "country", "device", "referrer", "source_system", "event_ts", "event_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("session_id", "country", "device", "referrer", "source_system")
    )


# ---------------------------------------------------------------------------
# Gold / metrics
# ---------------------------------------------------------------------------

def metrics_daily_kpis(
    dim_date_df: DataFrame, fact_sessions_df: DataFrame, fact_orders_df: DataFrame
) -> DataFrame:
    """Daily KPI rollup — reference
    marts/metrics/metrics_daily_kpis.sql:5-57 (SURVEY A6, J3/J4, P9/P10/P13).

    int/int division returns double in both DuckDB and Spark (SURVEY P13) —
    conversion_rate needs no explicit cast.
    """
    sessions = (
        fact_sessions_df.groupBy(F.col("session_start_ts").cast("date").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("sessions"),
            F.countDistinct("user_id").alias("daily_active_users"),
        )
    )
    orders = (
        fact_orders_df.groupBy(F.col("order_ts").cast("date").alias("date"))
        .agg(
            F.countDistinct("order_id").alias("orders"),
            F.sum("order_total_amount").alias("revenue"),
            F.avg("order_total_amount").alias("avg_order_value"),
        )
    )
    sessions_with_orders = (
        fact_sessions_df.alias("s")
        .join(fact_orders_df.alias("o"), F.col("s.session_id") == F.col("o.session_id"))
        .groupBy(F.col("s.session_start_ts").cast("date").alias("date"))
        .agg(F.countDistinct("s.session_id").alias("sessions_with_orders"))
    )
    return (
        dim_date_df.select("date")
        .join(sessions, "date", "left")
        .join(orders, "date", "left")
        .join(sessions_with_orders, "date", "left")
        .select(
            "date",
            F.coalesce("daily_active_users", F.lit(0)).alias("daily_active_users"),
            F.coalesce("sessions", F.lit(0)).alias("sessions"),
            F.coalesce("orders", F.lit(0)).alias("orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("avg_order_value", F.lit(0.0)).alias("avg_order_value"),
            # a date with sessions and no orders reads 0.0, not NULL
            # (deviation 6, SURVEY §2.10)
            F.coalesce(F.col("orders") / F.col("sessions"), F.lit(0.0))
            .alias("conversion_rate"),
            F.coalesce(F.col("sessions_with_orders") / F.col("sessions"), F.lit(0.0))
            .alias("sessions_with_order_pct"),
        )
    )


def metrics_daily_funnel(fact_events_df: DataFrame, fact_orders_df: DataFrame) -> DataFrame:
    """Funnel-stage bitmap + day rollup — reference
    marts/metrics/metrics_daily_funnel.sql:5-44 (SURVEY A7/A8, J5).

    Deviation #3 applied: product-view stage matches the generator's
    ``view_product`` event (reference filters 'product_view' which never
    occurs — intent per schema.yml:644-648).
    """
    session_events = (
        fact_events_df.groupBy(
            F.col("event_ts").cast("date").alias("date"), "session_id"
        )
        .agg(
            F.max(F.when(F.col("event_type") == PRODUCT_VIEW_EVENT, 1).otherwise(0)).alias(
                "viewed_product"
            ),
            F.max(F.when(F.col("event_type") == "add_to_cart", 1).otherwise(0)).alias(
                "added_to_cart"
            ),
            F.max(F.when(F.col("event_type") == "checkout_start", 1).otherwise(0)).alias(
                "checkout_started"
            ),
        )
    )
    orders = fact_orders_df.select(
        F.col("order_ts").cast("date").alias("date"), "session_id"
    )
    return (
        session_events.alias("se")
        .join(
            orders.alias("o"),
            (F.col("se.session_id") == F.col("o.session_id"))
            & (F.col("se.date") == F.col("o.date")),
            "left",
        )
        .groupBy("se.date")
        .agg(
            F.countDistinct("se.session_id").alias("sessions"),
            F.sum("viewed_product").alias("sessions_with_product_view"),
            F.sum("added_to_cart").alias("sessions_with_add_to_cart"),
            F.sum("checkout_started").alias("sessions_with_checkout"),
            F.countDistinct("o.session_id").alias("sessions_with_order"),
        )
    )


def metrics_user_lifecycle(
    fact_sessions_df: DataFrame, fact_orders_df: DataFrame
) -> DataFrame:
    """User lifecycle — reference
    marts/metrics/metrics_user_lifecycle.sql:5-51 (SURVEY A3, J6, F6, P9/P10).
    DuckDB datediff('day', d1, d2) → Spark datediff(d2, d1) (arg order flips,
    SURVEY F6)."""
    sessions = fact_sessions_df.groupBy("user_id").agg(
        F.min("session_start_ts").alias("first_session_ts"),
        F.count(F.lit(1)).alias("total_sessions"),
    )
    orders = fact_orders_df.groupBy("user_id").agg(
        F.min("order_ts").alias("first_order_ts"),
        F.countDistinct("order_id").alias("total_orders"),
        F.sum("order_total_amount").alias("lifetime_revenue"),
        F.avg("order_total_amount").alias("avg_order_value"),
    )
    return sessions.join(orders, "user_id", "left").select(
        "user_id",
        F.col("first_session_ts").cast("date").alias("first_seen_date"),
        F.col("first_order_ts").cast("date").alias("first_order_date"),
        F.when(F.col("first_order_ts").isNull(), F.lit(None).cast("long"))
        .when(F.col("first_order_ts") < F.col("first_session_ts"), F.lit(None).cast("long"))
        .otherwise(
            F.datediff(
                F.col("first_order_ts").cast("date"), F.col("first_session_ts").cast("date")
            ).cast("long")
        )
        .alias("days_to_first_purchase"),
        "total_sessions",
        F.coalesce("total_orders", F.lit(0)).alias("total_orders"),
        F.coalesce("lifetime_revenue", F.lit(0.0)).alias("lifetime_revenue"),
        F.coalesce("avg_order_value", F.lit(0.0)).alias("avg_order_value"),
        F.coalesce(F.col("total_orders") > 1, F.lit(False)).alias("is_repeat_buyer"),
    )


def metrics_product_performance_daily(
    fact_order_items_df: DataFrame, fact_orders_df: DataFrame, fact_events_df: DataFrame
) -> DataFrame:
    """Daily product performance — reference
    marts/metrics/metrics_product_performance_daily.sql:5-52 (SURVEY A9,
    J7/J8, P6). Deviation #3 applied (view_product)."""
    order_items = (
        fact_order_items_df.alias("oi")
        .join(
            fact_orders_df.select("order_id", "order_ts").alias("o"),
            F.col("oi.order_id") == F.col("o.order_id"),
        )
        .groupBy(F.col("o.order_ts").cast("date").alias("date"), "oi.product_id")
        .agg(
            F.sum("quantity").alias("units_sold"),
            F.countDistinct("o.order_id").alias("orders_with_product"),
            F.sum(F.col("quantity") * F.col("price")).alias("product_revenue"),
            F.avg("price").alias("avg_price"),
        )
    )
    product_sessions = (
        fact_events_df.filter(F.col("event_type") == PRODUCT_VIEW_EVENT)
        .groupBy(F.col("event_ts").cast("date").alias("date"), "product_id")
        .agg(F.countDistinct("session_id").alias("sessions_viewed"))
    )
    return (
        order_items.join(product_sessions, ["date", "product_id"], "left")
        .select(
            "date",
            "product_id",
            "units_sold",
            "orders_with_product",
            "product_revenue",
            "avg_price",
            F.when(
                F.col("sessions_viewed") > 0,
                F.col("orders_with_product") / F.col("sessions_viewed"),
            )
            .otherwise(F.lit(0.0))
            .alias("product_conversion_rate"),
        )
    )
