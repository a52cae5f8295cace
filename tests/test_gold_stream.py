"""Streaming gold end-to-end: the eight gold tables (four metrics marts,
four dimensions) maintained by ``streaming/gold.py`` converge to the
batch-computed truth on an adversarial fixture (duplicates + late arrivals
+ unparseable timestamps), with exactly-once ManifestTable commits
(VERDICT r4 directive #7). The truth is wired by hand from the model
builders: it is the reference the stream is compared against."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture
from ecommerce_analytics_platform_spark.plans import models as M
from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
from ecommerce_analytics_platform_spark.sources.ndjson import (
    enrich_clickstream,
    enrich_orders,
    read_orders_raw,
    write_ndjson_fixture,
)
from ecommerce_analytics_platform_spark.sources.schemas import CLICKSTREAM_RAW_SCHEMA
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
from ecommerce_analytics_platform_spark.streaming.gold import (
    EVENT_GOLD,
    _empty_orders,
    start_continuous_gold,
)

EVENTS = "staging.stg_clickstream_events"
SESSIONS = "staging.stg_clickstream_sessions"


def _canon(df, drop=()):
    """Rows with doubles rounded (streaming recomputes slice sums in a
    different order than one batch aggregation — equal to fp noise)."""
    df = df.drop(*drop)
    cols = sorted(df.columns)
    rows = []
    for r in df.select(*cols).collect():
        rows.append(
            tuple(
                round(v, 6) if isinstance(v, float) else v
                for v in (r[c] for c in cols)
            )
        )
    return sorted(rows, key=str)


def _truth(spark, raw: str, stg_orders) -> dict:
    """Batch truth of the eight gold tables from the raw clickstream under
    ``raw`` through the batch code path."""
    bronze_full = enrich_clickstream(
        spark.read.schema(CLICKSTREAM_RAW_SCHEMA).json(raw)
    )
    ev = M.stg_clickstream_events(bronze_full)
    sessions = M.stg_clickstream_sessions(ev)
    fe = M.fact_events(ev)
    fo = M.fact_orders(stg_orders)
    fs = M.fact_sessions(sessions, stg_orders)
    foi = M.fact_order_items(M.stg_order_items(stg_orders))
    cal = M.dim_date(fe)
    return {
        "metrics_daily_kpis": M.metrics_daily_kpis(cal, fs, fo),
        "metrics_daily_funnel": M.metrics_daily_funnel(fe, fo),
        "metrics_user_lifecycle": M.metrics_user_lifecycle(fs, fo),
        "metrics_product_performance_daily": M.metrics_product_performance_daily(
            foi, fo, fe
        ),
        # r6: the gold dims (same adversarial fixture — late events can
        # retake a session's first row / extend the calendar spine)
        "dim_date": cal,
        "dim_users": M.dim_users(fe, fo),
        "dim_products": M.dim_products(foi),
        "dim_session_context": M.dim_session_context(fe),
    }


def _stage_orders(spark, wh, orders, orders_dir):
    """Orders arrive batch-side (reference batch_ingest.py): load staging."""
    write_ndjson_fixture(orders, os.path.join(orders_dir, "o.json"))
    bronze_orders = enrich_orders(read_orders_raw(spark, orders_dir))
    wh.overwrite(M.stg_orders(bronze_orders), "staging.stg_orders")


def _stream_files(spark, files, raw, wh_root, gold_root, ckpt):
    """Each event file lands and streams on the same checkpoint before the
    next one arrives, so each is its own micro-batch."""
    for i, rows in enumerate(files):
        write_ndjson_fixture(rows, os.path.join(raw, f"b{i + 1}.json"))
        q = start_continuous_gold(spark, raw, wh_root, gold_root, ckpt)
        assert q.awaitTermination(300)


@pytest.fixture(scope="module")
def gold_env(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("gold_stream")
    raw = str(tmp / "raw")
    wh_root = str(tmp / "wh")
    gold_root = str(tmp / "gold")
    ckpt = str(tmp / "ckpt")

    events, orders = generate_fixture(
        seed=23, n_sessions=45, dup_rate=0.15, late_rate=0.25, bad_ts_rate=0.05
    )
    wh = Warehouse(spark, wh_root)
    _stage_orders(spark, wh, orders, str(tmp / "orders"))

    # tranche 1 → stream; tranche 2 (carries cross-tranche duplicates and
    # late events for tranche-1 sessions) → stream again on the same ckpt
    cut = (len(events) * 3) // 5
    _stream_files(spark, [events[:cut], events[cut:]], raw, wh_root, gold_root, ckpt)

    # batch truth from the SAME raw bytes through the batch code path
    truth = _truth(spark, raw, wh.read("staging.stg_orders"))
    return {"gold_root": gold_root, "truth": truth, "raw": raw,
            "wh_root": wh_root, "ckpt": ckpt}


@pytest.mark.parametrize(
    "table,drop",
    [
        ("metrics_daily_kpis", ()),
        ("metrics_daily_funnel", ()),
        ("metrics_user_lifecycle", ("u_bucket",)),
        ("metrics_product_performance_daily", ()),
        ("dim_date", ()),
        ("dim_users", ("u_bucket",)),
        ("dim_products", ("p_bucket",)),
        ("dim_session_context", ("s_bucket",)),
    ],
)
def test_streaming_gold_converges_to_batch(spark, gold_env, table, drop):
    t = ManifestTable(spark, os.path.join(gold_env["gold_root"], table))
    got = _canon(t.read(), drop=drop)
    want = _canon(gold_env["truth"][table])
    assert len(got) == len(want), f"{table}: {len(got)} vs {len(want)} rows"
    assert got == want, f"{table} diverged"


def test_gold_commits_are_exactly_once(spark, gold_env):
    """Replaying the stream with no new files must not advance any gold
    table (checkpoint skips the batches; txn ids would no-op re-delivered
    ones)."""
    versions = {
        t: ManifestTable(spark, os.path.join(gold_env["gold_root"], t)).latest_version()
        for t in gold_env["truth"]
    }
    q = start_continuous_gold(
        spark, gold_env["raw"], gold_env["wh_root"], gold_env["gold_root"],
        gold_env["ckpt"],
    )
    assert q.awaitTermination(120)
    for t in gold_env["truth"]:
        mt = ManifestTable(spark, os.path.join(gold_env["gold_root"], t))
        assert mt.latest_version() == versions[t], t


def test_gold_txn_replay_noop(spark, gold_env, tmp_path):
    """Direct re-delivery simulation: replaying a txn_id against a gold
    table is a no-op even though the checkpoint is gone (the ManifestTable
    txn set, not the checkpoint, is the exactly-once backstop)."""
    t = ManifestTable(
        spark, os.path.join(gold_env["gold_root"], "metrics_daily_funnel")
    )
    v = t.latest_version()
    txns = t._read_manifest(v).get("txns", [])
    assert txns, "gold commits must carry txn ids"
    df = t.read().limit(1)
    assert t.replace_partitions(df, ["date"], txn_id=txns[0]) == v


def _event(event_id, session_id, user_id, ts):
    return {
        "event_id": event_id, "event_type": "page_view", "user_id": user_id,
        "session_id": session_id, "product_id": None, "event_time": ts,
        "ingest_time": ts, "version": "v1", "device": "mobile", "country": "fr",
    }


def test_kpis_count_an_order_dated_outside_the_recomputed_dates(spark, tmp_path):
    """S1 starts on 2026-01-10 and orders on 2026-01-11. The second
    micro-batch touches only 2026-01-10 (new session S3); its recompute
    must still join S1's order, dated outside the touched dates, so
    sessions_with_order_pct for 2026-01-10 is 1 of 2 sessions."""
    wh_root, raw, gold_root = (str(tmp_path / d) for d in ("wh", "raw", "gold"))
    wh = Warehouse(spark, wh_root)
    _stage_orders(spark, wh, [{
        "order_id": "O1", "session_id": "S1", "user_id": "U1",
        "order_status": "completed",
        "items": [{"product_id": "P1", "quantity": 1, "price": 10.0}],
        "order_time": "2026-01-11 00:05:00", "ingest_time": "2026-01-11 00:06:00",
    }], str(tmp_path / "orders"))
    files = [
        [_event(f"E1-{m}", "S1", "U1", f"2026-01-10 23:{m}:00") for m in range(50, 59, 2)]
        + [_event("E2-0", "S2", "U2", "2026-01-11 10:00:00")],
        [_event("E3-0", "S3", "U3", "2026-01-10 12:00:00")],
    ]
    _stream_files(spark, files, raw, wh_root, gold_root, str(tmp_path / "ckpt"))

    got = ManifestTable(spark, os.path.join(gold_root, "metrics_daily_kpis")).read()
    want = _truth(spark, raw, wh.read("staging.stg_orders"))["metrics_daily_kpis"]
    assert _canon(got) == _canon(want)
    [day] = got.filter(F.col("date") == "2026-01-10").collect()
    assert day["sessions_with_order_pct"] == 0.5


def test_kpis_ratios_read_zero_on_a_date_without_orders(spark, tmp_path):
    """2026-01-10 has a session and no orders; 2026-01-11 a session with
    its order. The orderless date reads conversion_rate and
    sessions_with_order_pct 0.0 beside orders 0 (the reference's
    ``o.orders / s.sessions`` gives NULL there: deviation 6, SURVEY §2.10),
    in the streamed table and in the batch recompute alike."""
    wh_root, raw, gold_root = (str(tmp_path / d) for d in ("wh", "raw", "gold"))
    wh = Warehouse(spark, wh_root)
    _stage_orders(spark, wh, [{
        "order_id": "O2", "session_id": "S2", "user_id": "U2",
        "order_status": "completed",
        "items": [{"product_id": "P1", "quantity": 1, "price": 10.0}],
        "order_time": "2026-01-11 10:30:00", "ingest_time": "2026-01-11 10:31:00",
    }], str(tmp_path / "orders"))
    files = [[
        _event("E1-0", "S1", "U1", "2026-01-10 12:00:00"),
        _event("E2-0", "S2", "U2", "2026-01-11 10:00:00"),
    ]]
    _stream_files(spark, files, raw, wh_root, gold_root, str(tmp_path / "ckpt"))

    cols = ["date", "sessions", "orders", "conversion_rate", "sessions_with_order_pct"]
    want = [
        (datetime.date(2026, 1, 10), 1, 0, 0.0, 0.0),
        (datetime.date(2026, 1, 11), 1, 1, 1.0, 1.0),
    ]
    stream = ManifestTable(spark, os.path.join(gold_root, "metrics_daily_kpis")).read()
    batch = _truth(spark, raw, wh.read("staging.stg_orders"))["metrics_daily_kpis"]
    for side, df in (("stream", stream), ("batch", batch)):
        got = sorted(tuple(r) for r in df.select(*cols).collect())
        assert got == want, side


def test_gold_without_orders_staging_matches_orderless_batch(spark, tmp_path):
    """With no ``staging.stg_orders`` the stream builds gold over the typed
    empty stand-in: the seven event-driven tables equal the batch truth
    over the same stand-in, and the orders-only dim_products is never
    written."""
    wh_root, raw, gold_root = (str(tmp_path / d) for d in ("wh", "raw", "gold"))
    events, _ = generate_fixture(seed=5, n_sessions=20, late_rate=0.25)
    cut = len(events) // 2
    _stream_files(
        spark, [events[:cut], events[cut:]], raw, wh_root, gold_root,
        str(tmp_path / "ckpt"),
    )
    assert not Warehouse(spark, wh_root).exists("staging.stg_orders")

    truth = _truth(spark, raw, _empty_orders(spark))
    for g in EVENT_GOLD:
        got = ManifestTable(spark, os.path.join(gold_root, g.table)).read()
        drop = (g.bucket[0],) if g.bucket else ()
        assert _canon(got, drop=drop) == _canon(truth[g.table]), g.table
    dim_products = ManifestTable(spark, os.path.join(gold_root, "dim_products"))
    assert dim_products.latest_version() is None


# the models built on dim_date's calendar, whose min/max(event_date)
# bound reads every date (partition values only)
CALENDAR_BOUND = {"metrics_daily_kpis", "dim_date"}


# 1 key (Spark rewrites a one-value IN), a few, and more than Spark's
# IN-to-INSET conversion threshold (10)
@pytest.mark.parametrize("n_keys", [1, 3, 12])
@pytest.mark.parametrize("g", EVENT_GOLD, ids=lambda g: g.table)
def test_picked_gold_output_scans_only_touched_keys(spark, gold_env, g, n_keys):
    """The stream's pick (``isin`` of literal keys on the model's output)
    must reach every planned scan of silver events and sessions; a pick
    left above an aggregate would recompute full history each batch.
    Only the plan is checked, so the keys need not occur in the data."""
    wh = Warehouse(spark, gold_env["wh_root"])
    inputs = {t: wh.read(t) for t in (EVENTS, SESSIONS, "staging.stg_orders")}
    keys = [
        datetime.date(2026, 1, 1) + datetime.timedelta(days=i) if g.key == "date"
        else f"{g.key[0].upper()}{i:04d}"
        for i in range(n_keys)
    ]

    leaves = g.pick(inputs, keys)._jdf.queryExecution().sparkPlan().collectLeaves()
    it = leaves.iterator()
    silver = 0
    while it.hasNext():
        scan = it.next()
        root = scan.relation().location().rootPaths().toString()
        if not any(t.split(".")[1] in root for t in (EVENTS, SESSIONS)):
            continue
        silver += 1
        filters = scan.dataFilters().toString() + scan.partitionFilters().toString()
        if g.table in CALENDAR_BOUND and len(scan.requiredSchema().fields()) == 0:
            continue  # the calendar bound: partition values only
        missing = [k for k in keys if str(k) not in filters]
        assert not missing, f"{g.table}: scan of {root} not cut to {missing}: {filters}"
    assert silver, f"{g.table}: no silver scan planned"


def test_read_set_fingerprint_sees_file_sizes(spark, tmp_path):
    """ADVICE r7: Hadoop renders local URIs as file:/x (single slash);
    the fingerprint must stat through that form — an in-place rewrite
    that keeps file NAMES but changes bytes must change the fingerprint
    (the ABA case the size component exists to catch)."""
    import glob
    import os
    import shutil

    from ecommerce_analytics_platform_spark.streaming.gold import (
        _read_set_fingerprint,
    )

    p = str(tmp_path / "d")
    spark.createDataFrame([(1, "a")], ["k", "v"]).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.inputFiles() and df.inputFiles()[0].startswith("file:")
    fp1 = _read_set_fingerprint(df)

    # rewrite the same-named data file with different (bigger) bytes
    big = str(tmp_path / "big")
    spark.createDataFrame(
        [(i, "x" * 50) for i in range(500)], ["k", "v"]
    ).coalesce(1).write.parquet(big)
    [dst] = glob.glob(os.path.join(p, "*.parquet"))
    [src] = glob.glob(os.path.join(big, "*.parquet"))
    shutil.copyfile(src, dst)
    for crc in glob.glob(os.path.join(p, ".*.crc")):
        os.unlink(crc)  # stale Hadoop checksum sidecars of the old bytes

    fp2 = _read_set_fingerprint(spark.read.parquet(p))
    assert fp1 != fp2, "fingerprint ignored file size — stat must succeed"
