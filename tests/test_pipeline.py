"""End-to-end medallion pipeline test: adversarial raw NDJSON fixtures →
landing → bronze → silver → gold, schema-test contract green, incremental
re-run converges (late/dup absorption), bronze idempotency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture
from ecommerce_analytics_platform_spark.pipeline import run_pipeline
from ecommerce_analytics_platform_spark.sources.ndjson import write_ndjson_fixture


@pytest.fixture(scope="module")
def data_lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    events, orders = generate_fixture(seed=42, n_sessions=60, bad_ts_rate=0.08)
    # two raw files per stream — multiple micro-batches for the file source
    write_ndjson_fixture(events[: len(events) // 2], str(root / "raw/clickstream/batch_1.json"))
    write_ndjson_fixture(events[len(events) // 2 :], str(root / "raw/clickstream/batch_2.json"))
    write_ndjson_fixture(orders, str(root / "raw/orders/batch_1.json"))
    return root


@pytest.fixture(scope="module")
def result(spark, data_lake):
    return run_pipeline(spark, str(data_lake))


def test_bronze_loaded(result):
    assert result["bronze"]["bronze.clickstream"] > 0
    assert result["bronze"]["bronze.orders"] > 0


def test_all_models_materialized(result):
    assert len(result["models"]) == 16
    for name, n in result["models"].items():
        assert n > 0, name


def test_schema_contract_green(result):
    failures = {k: v for k, v in result["tests"].items() if v != 0}
    assert failures == {}


def test_dedup_absorbed_duplicates(spark, data_lake, result):
    """The fixture injects ~8% duplicate events; silver must be unique."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    bronze_n = wh.read("bronze.clickstream").count()
    silver = wh.read("staging.stg_clickstream_events")
    silver_n = silver.count()
    assert silver_n < bronze_n  # dups (and bad timestamps) dropped
    assert silver.groupBy("event_id").count().filter("count > 1").count() == 0


def test_bad_timestamps_dropped_not_errored(spark, data_lake):
    """TRY_CAST semantics (SURVEY P4): unparseable event_time → null → filtered."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    bronze = wh.read("bronze.clickstream")
    bad = bronze.filter(F.col("event_time").isNull()).count()
    assert bad > 0  # fixture injected some
    silver = wh.read("staging.stg_clickstream_events")
    assert silver.filter(F.col("event_ts").isNull()).count() == 0


def test_v1_v2_schema_merge(spark, data_lake):
    """v1 rows carry nulls for v2-only columns — one wide schema."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    silver = wh.read("staging.stg_clickstream_events")
    assert "referrer" in silver.columns and "experiment_id" in silver.columns
    # both populated (v2) and null (v1) rows exist
    assert silver.filter(F.col("referrer").isNotNull()).count() > 0
    assert silver.filter(F.col("referrer").isNull()).count() > 0


@pytest.mark.slow
def test_incremental_rerun_converges(spark, data_lake, result):
    """Re-running the pipeline (now incremental) must not change results:
    bronze at-most-once per ingest_date + delete+insert idempotency."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    before = {t: wh.read(t).count() for t in result["models"]}
    result2 = run_pipeline(spark, str(data_lake))
    assert {k: v for k, v in result2["tests"].items() if v != 0} == {}
    after = {t: wh.read(t).count() for t in result2["models"]}
    assert before == after


def test_funnel_metrics_nonzero(spark, data_lake):
    """Deviation #3 regression: with the reference's 'product_view' filter
    the funnel would be constant 0; intended semantics must count views."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    funnel = wh.read("marts.metrics_daily_funnel")
    assert funnel.agg(F.sum("sessions_with_product_view")).collect()[0][0] > 0


def test_order_totals_match_items(spark, data_lake):
    """order_total_amount (array fold, F10) must equal the sum of exploded
    line amounts (F9) — two independent computations of the same quantity."""
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    orders = wh.read("staging.stg_orders").select("order_id", "order_total_amount")
    items = (
        wh.read("staging.stg_order_items")
        .groupBy("order_id")
        .agg(F.sum("line_amount").alias("from_items"))
    )
    joined = orders.join(items, "order_id")
    bad = joined.filter(
        F.abs(F.col("order_total_amount") - F.col("from_items")) > 1e-9
    ).count()
    assert bad == 0


def test_corrupt_ndjson_lines_do_not_poison_ingest(spark, tmp_path):
    """Malformed JSON lines (truncated, non-JSON garbage) must not fail the
    schema-enforced read: Spark's default PERMISSIVE mode yields all-null
    rows for unparseable lines, which the event_id-not-null gate then
    drops — the file-level analog of TRY_CAST row semantics."""
    from ecommerce_analytics_platform_spark.sources.ndjson import read_clickstream_raw

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"event_id": "e1", "event_type": "view_product", "user_id": "u1", '
        '"session_id": "s1", "event_time": "2024-01-01T10:00:00", "version": "v1"}\n'
        "this is not json at all\n"
        '{"event_id": "e2", "truncated": \n'
        '{"event_id": "e3", "event_type": "purchase", "user_id": "u2", '
        '"session_id": "s2", "event_time": "2024-01-01T11:00:00", "version": "v1"}\n'
    )
    df = read_clickstream_raw(spark, str(p))
    ok = df.filter(F.col("event_id").isNotNull())
    assert df.count() == 4                      # no rows error out the job
    # the garbage line AND the truncated e2 line parse to all-null rows
    assert {r["event_id"] for r in ok.collect()} == {"e1", "e3"}


def test_source_freshness_contract(spark, data_lake, result):
    """dbt source-freshness analog (reference schema.yml:3-111, drafted
    but disabled there): fresh loads pass, and a stale clock trips
    warn then error at the contract thresholds."""
    import datetime

    from ecommerce_analytics_platform_spark.plans.runner import run_freshness
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(data_lake / "warehouse"))
    now = datetime.datetime.now(datetime.timezone.utc)

    # just-loaded warehouse: everything fresh
    assert set(run_freshness(wh, now=now).values()) == {"pass"}

    # 1-2 days later: warn on every source; past 2 days: error
    day = datetime.timedelta(days=1)
    assert set(run_freshness(wh, now=now + day + day / 2).values()) == {"warn"}
    assert set(run_freshness(wh, now=now + 3 * day).values()) == {"error"}

    # a source that was never loaded is infinitely stale
    empty_wh = Warehouse(spark, str(data_lake / "warehouse_missing"))
    assert set(run_freshness(empty_wh, now=now).values()) == {"error"}


def test_incremental_rerun_rebuilds_straddling_session(spark, tmp_path):
    """A session with events on both sides of the lookback bound
    (``max(session_end_ts) - 1 day``) is rebuilt from its full history by
    the incremental run, so it equals a full rebuild — not a rollup of its
    newer events only."""
    import datetime

    from ecommerce_analytics_platform_spark.plans.runner import run_models
    from ecommerce_analytics_platform_spark.sources.ndjson import enrich_clickstream
    from ecommerce_analytics_platform_spark.sources.schemas import CLICKSTREAM_RAW_SCHEMA
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "warehouse"))
    select = ["staging.stg_clickstream_events", "staging.stg_clickstream_sessions"]

    def land(*events):
        rows = [
            {"event_id": eid, "event_type": "page_view", "user_id": "u1",
             "session_id": sid, "event_time": ts, "version": "v1"}
            for eid, sid, ts in events
        ]
        bronze = enrich_clickstream(spark.createDataFrame(rows, CLICKSTREAM_RAW_SCHEMA))
        wh.append(bronze, "bronze.clickstream", partition_by=["ingest_date"])

    def sessions():
        df = wh.read("staging.stg_clickstream_sessions")
        return {
            r["session_id"]: (r["session_start_ts"], r["event_count"])
            for r in df.collect()
        }

    land(
        ("a1", "s-a", "2026-01-10 08:00:00"),
        ("a2", "s-a", "2026-01-10 09:00:00"),
        ("b1", "s-b", "2026-01-12 12:00:00"),
    )
    run_models(wh, select=select, full_refresh=True)
    # the bound is now 2026-01-11 12:00; s-a gains an event after it
    land(("a3", "s-a", "2026-01-11 13:00:00"))
    run_models(wh, select=select)
    incremental = sessions()
    run_models(wh, select=select, full_refresh=True)
    assert incremental == sessions()
    assert incremental["s-a"] == (datetime.datetime(2026, 1, 10, 8, 0), 3)


def test_gold_stream_runs_on_batch_loaded_warehouse(spark, tmp_path):
    """``start_continuous_gold`` on a lake that ``run_pipeline`` loaded:
    the stream's bronze append and silver merges accept the batch-written
    tables, and the first micro-batch commits gold."""
    from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
    from ecommerce_analytics_platform_spark.streaming.gold import start_continuous_gold

    events, orders = generate_fixture(seed=5, n_sessions=12)
    write_ndjson_fixture(events, str(tmp_path / "raw/clickstream/b1.json"))
    write_ndjson_fixture(orders, str(tmp_path / "raw/orders/o1.json"))
    run_pipeline(spark, str(tmp_path))

    # new clickstream, including re-deliveries of batch-loaded events
    late = generate_fixture(seed=6, n_sessions=4)[0]
    write_ndjson_fixture(events[:10] + late, str(tmp_path / "stream/s1.json"))
    q = start_continuous_gold(
        spark, str(tmp_path / "stream"), str(tmp_path / "warehouse"),
        str(tmp_path / "gold"), str(tmp_path / "checkpoints/gold"),
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    kpis = ManifestTable(spark, str(tmp_path / "gold/metrics_daily_kpis"))
    assert kpis.latest_version() is not None

    wh = Warehouse(spark, str(tmp_path / "warehouse"))
    for table, key in (
        ("staging.stg_clickstream_events", "event_id"),
        ("staging.stg_clickstream_sessions", "session_id"),
    ):
        df = wh.read(table)
        assert df.count() == df.select(key).distinct().count(), table
