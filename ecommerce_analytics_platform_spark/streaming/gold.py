"""Streaming gold: one micro-batch loop drives the full gold layer —
four metrics marts AND the four dimensions.

Each micro-batch runs ``continuous_pipeline.land_and_merge_events`` (bronze
append + silver events merge), then silver sessions and the reference's
gold layer (SURVEY §3.3:
metrics_daily_kpis / metrics_daily_funnel / metrics_user_lifecycle /
metrics_product_performance_daily — dbt_project/models/marts/metrics/*.sql
— plus dim_date / dim_users / dim_products / dim_session_context —
models/marts/core/dimensions/*.sql) — maintained continuously,
exactly-once, on :class:`ManifestTable` commits.

Design — one rule for every event-driven table (:data:`EVENT_GOLD`):
build the model from ``plans.runner.MODELS`` over full, lazy inputs
(``runner.build``), keep the output rows whose key the micro-batch
touched, and commit by that key. It is the batch incremental rerun's rule
(build from full inputs, then pick output rows), so streamed rows equal
the batch truth by construction.

- **Touched keys**: one ``collect()`` of the distinct
  ``(event_date, user_id, session_id)`` of the batch's sessions' full
  history. Late events can move a session's start date earlier; the old
  date stays in the set because delete+insert by event_id never removes a
  session's other events. A date table also recomputes the candidate
  dates it has never materialized (calendar gaps for daily_kpis and
  dim_date, event-less order dates for product performance), found for
  all date tables by one more ``collect()``, so zero-activity rows
  converge too.
- **Literal key lists**: the pick is ``isin(<literals>)``, which the
  optimizer pushes through the models' aggregates, left joins and window
  down to every silver scan (only dim_date's ``min``/``max(event_date)``
  calendar bound reads all dates). Key lists are bounded by the
  micro-batch, so cost follows the batch footprint, never table size.
- **Layout**: date tables swap their ``date`` partitions with
  ``replace_partitions``; user- and session-keyed tables merge by key
  into a hash-bucket partition (``pmod(hash(key), n)``, stable per key,
  so the merge rewrites only buckets holding touched keys).
- **Exactly-once**: every gold commit carries ``txn_id=f"{table}-{batch_id}"``
  — the ManifestTable txn set (carried across ALL commit classes) makes a
  re-delivered foreachBatch a no-op, the same guarantee Delta's
  ``txnAppId``/``txnVersion`` provides. The silver merge underneath is
  idempotent by unique key, so replayed batches converge state-identically.
- **Concurrent commits**: the commits' DataFrames are planned first,
  serially, because ``runner.build`` memoizes shared inputs into one
  plain dict, which is not thread-safe. Then ``runner.run_dag`` runs the
  commits of the seven tables and dim_products at once (Spark schedules
  jobs from several threads). Each commit goes to its own
  :class:`ManifestTable`, so no two commits race; a failed commit fails
  the batch, and the replay skips the commits that landed (txn ids).
- **Orders are batch-side**: the reference ingests orders in batch
  (batch_ingest.py) while clickstream streams; gold joins the CURRENT
  ``staging.stg_orders`` each micro-batch. After an orders reload, a
  later micro-batch brings the order-derived columns current only for
  the keys its events touch; rows no later event touches keep the old
  orders (ROADMAP item 8). dim_products, which only orders feed, is keyed
  to the orders snapshot instead of the batch, so it catches up in full.

Convergence to the batch truth is asserted in tests/test_gold_stream.py.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ecommerce_analytics_platform_spark.plans.models import SESSION_BUCKETS
from ecommerce_analytics_platform_spark.plans.runner import build, merge_model, run_dag
from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
from ecommerce_analytics_platform_spark.streaming.continuous_pipeline import (
    land_and_merge_events,
    start_clickstream_stream,
)

# hash buckets of the user- and product-keyed gold tables
# (``pmod(hash(key), GOLD_BUCKETS)``); dim_session_context buckets by
# ``models.SESSION_BUCKETS`` like the silver sessions table
GOLD_BUCKETS = 16


class GoldTable(NamedTuple):
    """One event-driven gold table: its DAG model, key and layout."""

    model: str  # ``plans.runner.MODELS`` name; the table takes its name part
    key: str  # "date", "user_id" or "session_id"
    # (hash-bucket column, bucket count), merged by key; None: ``date``
    # partitions swapped with ``replace_partitions``
    bucket: tuple[str, int] | None = None
    # where a date table's rows on event-less dates come from: "calendar"
    # (dim_date's spine) or "orders" (order dates)
    gaps: str | None = None

    @property
    def table(self) -> str:
        return self.model.split(".", 1)[1]

    def pick(self, inputs: dict[str, DataFrame], keys) -> DataFrame:
        """The model built over ``inputs``, cut to the rows of ``keys``.

        The trailing NULL keeps the list an ``IN`` for a single key: Spark
        turns a one-value ``IN`` into ``=``, then ``cast(ts as date) = d``
        into a ``ts`` range, which product performance's left join cannot
        carry over to its event side. NULL matches no row."""
        return build(self.model, inputs).filter(
            F.col(self.key).isin([*sorted(keys), None])
        )


# the seven event-driven gold tables, recomputed by one rule each batch
EVENT_GOLD = (
    GoldTable("marts.metrics_daily_kpis", "date", gaps="calendar"),
    GoldTable("marts.metrics_daily_funnel", "date"),
    GoldTable("marts.metrics_product_performance_daily", "date", gaps="orders"),
    GoldTable("marts.dim_date", "date", gaps="calendar"),
    GoldTable("marts.metrics_user_lifecycle", "user_id", ("u_bucket", GOLD_BUCKETS)),
    GoldTable("marts.dim_users", "user_id", ("u_bucket", GOLD_BUCKETS)),
    GoldTable("marts.dim_session_context", "session_id", ("s_bucket", SESSION_BUCKETS)),
)


def _bucket(key: str, n: int):
    return F.pmod(F.hash(key), F.lit(n))


def _read_set_fingerprint(df) -> str:
    """Fingerprint of the file set a DataFrame read will ACTUALLY touch
    (``df.inputFiles()`` URIs + on-disk sizes). Used to key dim_products
    commits to the ORDERS SNAPSHOT rather than the batch: orders are
    batch-side, so rescanning all order items every micro-batch would pay
    the table's full scan cost for an unchanged result — the fingerprint
    txn skips the recompute entirely until the staging load actually
    changes.

    Why inputFiles and not a directory walk (r6 ADVICE): a dir walk keyed
    on mtimes is ABA-revertable (restore the dir to a previously-seen
    mtime state and the recompute is skipped at an intermediate result),
    and orphaned files from superseded loads fed the fingerprint even
    though reads ignore them. The read set is exactly what the recompute
    would consume. Remaining assumption (documented): two DISTINCT order
    snapshots never present the identical (URI, size) list — safe in
    practice because parquet writers mint a fresh UUID part-file name per
    write job, so equal lists imply equal bytes."""
    import hashlib

    import urllib.parse

    h = hashlib.sha1()
    for uri in sorted(df.inputFiles()):
        # Hadoop renders local URIs as file:/root/... (single slash) —
        # urlparse handles that, file:///, and bare paths alike (ADVICE
        # r7: the old 'file://' prefix-strip missed the single-slash form,
        # so every stat failed and the size component silently dropped
        # out of the fingerprint)
        parsed = urllib.parse.urlparse(uri)
        local = parsed.path if parsed.scheme == "file" else uri
        try:
            size = os.stat(local).st_size
        except OSError:
            size = -1
        h.update(f"{uri}:{size}".encode())
    return h.hexdigest()[:16]


def _never_materialized(
    gold, candidates: dict[str, DataFrame]
) -> dict[str, set]:
    """Per date table of :data:`EVENT_GOLD`, its ``gaps`` candidate dates
    absent from the table — the zero-activity rows (calendar gaps /
    event-less order dates) a touched-dates-only recompute would never
    create. One ``collect()`` for all tables; an existing table's dates
    are read from partition values only (no data IO)."""
    parts = []
    for g in EVENT_GOLD:
        if g.gaps is None:
            continue
        dates = candidates[g.gaps]
        t = gold(g.table)
        if t.latest_version() is not None:
            dates = dates.join(t.read().select("date").distinct(), "date", "left_anti")
        parts.append(dates.select(F.lit(g.table).alias("table"), "date"))
    out: dict[str, set] = {}
    for r in functools.reduce(DataFrame.unionByName, parts).distinct().collect():
        out.setdefault(r["table"], set()).add(r["date"])
    return out


def start_continuous_gold(
    spark: SparkSession,
    raw_dir: str,
    warehouse_root: str,
    gold_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Clickstream NDJSON stream → per micro-batch: bronze append, silver
    merges (events + sessions), then the touched-key recompute + commit
    of the eight gold tables (four metrics marts and four dimensions)
    under ``gold_root``.

    Requires ``staging.stg_orders`` to exist in the warehouse when
    order-derived metrics should be non-zero (load it with the batch
    pipeline first); a missing orders staging yields order-less gold.
    """
    wh = Warehouse(spark, warehouse_root)

    def gold(name: str) -> ManifestTable:
        return ManifestTable(spark, os.path.join(gold_root, name))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        silver_batch = land_and_merge_events(wh, batch_df, batch_id)
        ev = wh.read("staging.stg_clickstream_events")

        # touched keys: every (date, user, session) of the batch's
        # sessions' full history
        rows = (
            ev.join(F.broadcast(silver_batch.select("session_id").distinct()), "session_id")
            .select("event_date", "user_id", "session_id")
            .distinct()
            .collect()
        )
        if not rows:
            return  # nothing parseable in this batch
        touched = {
            "date": {r["event_date"] for r in rows},
            "user_id": {r["user_id"] for r in rows} - {None},
            "session_id": {r["session_id"] for r in rows} - {None},
        }

        # silver sessions: the touched sessions rolled up from full history
        sessions = build(
            "staging.stg_clickstream_sessions", {"staging.stg_clickstream_events": ev}
        )
        merge_model(
            wh, "staging.stg_clickstream_sessions",
            sessions.filter(F.col("session_id").isin(sorted(touched["session_id"]))),
        )

        has_orders = wh.exists("staging.stg_orders")
        inputs = {
            "staging.stg_clickstream_events": ev,
            "staging.stg_clickstream_sessions": wh.read("staging.stg_clickstream_sessions"),
            "staging.stg_orders": (
                wh.read("staging.stg_orders") if has_orders else _empty_orders(spark)
            ),
        }
        new_dates = _never_materialized(gold, {
            "calendar": build("marts.dim_date", inputs).select("date"),
            "orders": build("marts.fact_order_items", inputs).select(
                F.col("order_date").alias("date")
            ),
        })

        # plans first, serially: ``build`` memoizes into ``inputs``, a
        # plain dict; then the commits run at once, each on its own table
        commits = {}
        for g in EVENT_GOLD:
            keys = touched[g.key] | new_dates.get(g.table, set())
            if not keys:
                continue
            df, t, txn_id = g.pick(inputs, keys), gold(g.table), f"{g.table}-{batch_id}"
            if g.bucket is None:
                commits[g.table] = functools.partial(
                    t.replace_partitions, df, ["date"], txn_id=txn_id
                )
            else:
                col, n = g.bucket
                commits[g.table] = functools.partial(
                    t.merge_delete_insert, df.withColumn(col, _bucket(g.key, n)),
                    unique_key=[g.key], partition_by=[col], txn_id=txn_id,
                )

        # dim_products: derived from batch-side orders only, so key
        # the commit to the ORDERS SNAPSHOT fingerprint — unchanged orders
        # ⇒ the txn pre-check skips the full order-items scan entirely
        if has_orders:
            fp_txn = f"dproducts-{_read_set_fingerprint(inputs['staging.stg_orders'])}"
            dp_t = gold("dim_products")
            if not dp_t.has_txn(fp_txn):
                dp = build("marts.dim_products", inputs).withColumn(
                    "p_bucket", _bucket("product_id", GOLD_BUCKETS)
                )
                commits["dim_products"] = functools.partial(
                    dp_t.merge_delete_insert, dp, unique_key=["product_id"],
                    partition_by=["p_bucket"], txn_id=fp_txn,
                )

        run_dag(spark, "gold", commits)

    return start_clickstream_stream(spark, raw_dir, checkpoint_dir, process_batch, available_now)


def _empty_orders(spark: SparkSession) -> DataFrame:
    """Typed empty stand-in for ``staging.stg_orders`` (clickstream-only
    deployments): the columns the fact/metric builders touch."""
    return spark.createDataFrame(
        [],
        "order_id string, user_id string, session_id string, "
        "items array<struct<product_id:string,quantity:bigint,price:double>>, "
        "order_status string, order_ts timestamp, item_count bigint, "
        "order_total_amount double, source_system string, "
        "pipeline_ingested_at timestamp",
    )
