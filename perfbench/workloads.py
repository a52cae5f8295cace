"""The benchmark's workloads: input generation, the timed run, and the
output checks. ``run.py`` is the command; this module holds the work.

Both workloads get their inputs only from the program's own seeded
generator (``fixtures/generator.py``), called from here with the
workload seed; the program sees nothing but the generated NDJSON.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import random
import statistics
import sys
import threading
import time
from datetime import datetime, timedelta

import spans as tracing

# Sizes, rates and shares of each workload. BENCHMARK.json's ``why``
# lines and README.md say why each was chosen; keep the three in step.
BATCH_SESSIONS = 2_500          # ~9k events, ~0.9k orders
BATCH_CLICK_FILES = 16          # raw clickstream split, plus one orders file
STREAM_GAP_S = 0.75             # one file due every 0.75 s, for --seconds
STREAM_SESSIONS_PER_FILE = 56   # ~270 events/s at that gap
STREAM_HOUR_STEP = 1            # each file's session clock starts 1 h later
STREAM_REDELIVER_SHARE = 0.03   # share of the previous file's events sent again
STREAM_RETURNING_SHARE = 0.20   # share of a file's users that already appeared
STREAM_DRAIN_TIMEOUT_S = 110.0  # after the last file was due

# hash-bucket columns the streamed gold tables carry and a batch
# recompute does not; dropped before the two are compared
GOLD_BUCKET_COLUMNS = {
    "metrics_user_lifecycle": ("u_bucket",),
    "dim_users": ("u_bucket",),
    "dim_products": ("p_bucket",),
    "dim_session_context": ("s_bucket",),
}


class Run:
    """State of one benchmark process: settings, the Spark session, the
    tracer (traced runs only) and what the workload measured."""

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 tracer: tracing.Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.extra: dict[str, float] = {}   # per-layer values measured here
        self.progress: list[dict] = []      # streaming progress of the run
        self.windows: list[tuple[float, float]] = []  # timed phases, epoch s
        self.setup_end = 0.0

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name)

    def note(self, what: str) -> None:
        """Diagnostic line on stderr (stdout carries only the result)."""
        print(f"perfbench: {what}", file=sys.stderr, flush=True)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class ResourceSampler:
    """Peak resident set of the driver JVM plus this Python process,
    sampled every 0.2 s while running, and the share of CPU time the
    hypervisor stole meanwhile (a noisy neighbour shows here)."""

    def __init__(self, jvm_pid: int):
        self.pids = [jvm_pid, os.getpid()]
        self.peak_kb = 0
        self.steal_share = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(0.2)

    def __enter__(self):
        self._ticks = _cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        steal, total = (b - a for a, b in zip(self._ticks, _cpu_ticks()))
        self.steal_share = steal / total if total else 0.0
        return False

    def report(self) -> dict[str, float]:
        return {"bench.peak_rss_mb": self.peak_kb / 1024.0,
                "bench.cpu_steal_share": self.steal_share}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# batch_medallion
# ---------------------------------------------------------------------------

def _micros(ts: str) -> int | None:
    """Microseconds since the epoch of a generated ``YYYY-MM-DD HH:MM:SS``
    time (read as UTC, like the session); None where Spark's
    ``try_to_timestamp`` gives null (the generator's unparseable times)."""
    try:
        t = datetime.fromisoformat(ts)
    except ValueError:
        return None
    return (t - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def batch_expected(events: list[dict], orders: list[dict]) -> dict[str, object]:
    """What the batch pipeline must produce from the generated input,
    computed here in plain Python: the raw row counts at bronze; the
    deduplicated events (id → time) and their per-session rollup
    (id → user, first and last time, event count); and per order its item
    count and total. Duplicates the generator injects are exact copies, so
    which copy the dedup keeps does not matter."""
    ev: dict[str, tuple[str, str, int]] = {}
    for e in events:
        t = _micros(e["event_time"])
        if t is not None:
            ev[e["event_id"]] = (e["session_id"], e["user_id"], t)
    sessions: dict[str, list] = {}
    for sid, uid, t in ev.values():
        s = sessions.setdefault(sid, [uid, t, t, 0])
        s[1], s[2], s[3] = min(s[1], t), max(s[2], t), s[3] + 1
    return {
        "bronze.clickstream": len(events),
        "bronze.orders": len(orders),
        "staging.stg_clickstream_events": {k: v[2] for k, v in ev.items()},
        "staging.stg_clickstream_sessions": {k: tuple(v) for k, v in sessions.items()},
        "marts.fact_sessions": sorted(sessions),
        "staging.stg_orders": {
            o["order_id"]: (len(o["items"]),
                            round(sum(i["quantity"] * i["price"] for i in o["items"]), 6))
            for o in orders if _micros(o["order_time"]) is not None
        },
    }


def batch_actual(warehouse: str) -> dict[str, object]:
    """The same views of the warehouse's tables, read with pyarrow so that
    checking submits no Spark job."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    def read(table: str, cols: list[str]) -> dict[str, list]:
        path = os.path.join(warehouse, *table.split("."))
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
        return {c: (t[c].cast(pa.int64()) if pa.types.is_timestamp(t[c].type) else t[c])
                .to_pylist() for c in cols}

    def keyed(keys: list, *cols: list) -> dict | None:
        """key → value (a tuple for several columns); None if a key repeats."""
        vals = cols[0] if len(cols) == 1 else list(zip(*cols))
        return dict(zip(keys, vals)) if len(set(keys)) == len(keys) else None

    ev = read("staging.stg_clickstream_events", ["event_id", "event_ts"])
    se = read("staging.stg_clickstream_sessions",
              ["session_id", "user_id", "session_start_ts", "session_end_ts", "event_count"])
    od = read("staging.stg_orders", ["order_id", "item_count", "order_total_amount"])
    return {
        "bronze.clickstream": len(read("bronze.clickstream", ["event_id"])["event_id"]),
        "bronze.orders": len(read("bronze.orders", ["order_id"])["order_id"]),
        "staging.stg_clickstream_events": keyed(ev["event_id"], ev["event_ts"]),
        "staging.stg_clickstream_sessions": keyed(
            se["session_id"], se["user_id"], se["session_start_ts"], se["session_end_ts"],
            se["event_count"],
        ),
        "marts.fact_sessions": sorted(read("marts.fact_sessions", ["session_id"])["session_id"]),
        "staging.stg_orders": keyed(
            od["order_id"], od["item_count"], [round(a, 6) for a in od["order_total_amount"]]
        ),
    }


def batch_medallion(run: Run, rerun: bool = False) -> None:
    """One cold full refresh, as a scheduled job runs it, checked against
    the contract and against ``batch_expected``. With ``rerun``
    (``batch_incremental``, not a workload of record), the scheduled
    incremental run follows over the same inputs and is checked the same
    way: it reproduces README.md's known defect 2."""
    from ecommerce_analytics_platform_spark import pipeline
    from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture
    from ecommerce_analytics_platform_spark.sources.ndjson import write_ndjson_fixture

    lake = os.path.join(run.work, "lake")
    events, orders = generate_fixture(seed=run.seed, n_sessions=BATCH_SESSIONS)
    for i in range(BATCH_CLICK_FILES):
        write_ndjson_fixture(
            events[i::BATCH_CLICK_FILES],
            os.path.join(lake, "raw", "clickstream", f"part-{i:02d}.json"),
        )
    write_ndjson_fixture(orders, os.path.join(lake, "raw", "orders", "part-00.json"))
    # landing, warehouse and checkpoints start cleared (they do not exist)
    run.setup_end = time.time()

    def phase(name: str, full_refresh: bool) -> float | None:
        t = time.perf_counter()
        try:
            with run.span(name):
                out = pipeline.run_pipeline(run.spark, lake, full_refresh=full_refresh)
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            run.note(f"{name}: {type(e).__name__}: {e}")
            run.record(False)
            return None
        took = time.perf_counter() - t
        tests = out["tests"]
        ok = len(tests) == 25 and all(v == 0 for v in tests.values()) and len(out["models"]) == 16
        if not ok:
            run.note(f"{name}: contract failures {({k: v for k, v in tests.items() if v})}")
        run.record(ok)
        return took

    def check(name: str) -> None:
        got = batch_actual(os.path.join(lake, "warehouse"))
        for table, want in expected.items():
            have = got[table]
            ok = have == want
            if not ok:
                if have is None:
                    why = "a key repeats"
                elif isinstance(want, int):
                    why = f"{have} rows, want {want}"
                elif isinstance(want, list):
                    why = f"{len(have)} ids, want {len(want)}"
                else:
                    bad = [k for k in set(want) | set(have) if want.get(k) != have.get(k)]
                    why = f"{len(bad)} of {len(want)} keys differ"
                run.note(f"{name}: {table} does not match the generated input: {why}")
            run.record(ok)

    expected = batch_expected(events, orders)
    with ResourceSampler(jvm_pid(run.spark)) as res:
        t0 = time.time()
        pipeline_s = phase("bench.full_refresh", True)
        run.windows.append((t0, time.time()))
    if pipeline_s is not None:
        check("bench.full_refresh")
    if rerun:
        took = phase("bench.rerun", False)
        run.note(f"bench.rerun: {took} s")
        if took is not None:
            check("bench.rerun")

    for q in (run.tracer.queries if run.tracer else []):
        run.progress.extend(q.recentProgress)
    per_batch: dict[int, int] = {}
    for b in _file_batches(os.path.join(lake, "checkpoints", "clickstream")).values():
        per_batch[b] = per_batch.get(b, 0) + 1
    run.extra["streaming.files_per_batch"] = tracing.median_or_zero(list(per_batch.values()))
    run.e2e = {"pipeline_s": pipeline_s or 0.0}
    run.extra.update(res.report())


# ---------------------------------------------------------------------------
# stream_gold
# ---------------------------------------------------------------------------

def stream_inputs(seed: int, n_files: int) -> tuple[list[list[dict]], list[dict]]:
    """``n_files`` clickstream files and every order, from the fixture
    generator. File i's sessions start i simulated hours after file 0's
    (and span two days), so late events land on dates already committed.
    Users are remapped so that a fixed share of each file's users are
    returning users of earlier files and the rest are new; a share of the
    previous file's events is delivered again."""
    from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture

    rng = random.Random(seed)
    base = datetime(2026, 1, 10, 8, 0, 0)
    files: list[list[dict]] = []
    all_orders: list[dict] = []
    seen_users: list[str] = []
    prev: list[dict] = []
    for i in range(n_files):
        events, orders = generate_fixture(
            seed=seed * 1000 + i, n_sessions=STREAM_SESSIONS_PER_FILE,
            start=base + timedelta(hours=STREAM_HOUR_STEP * i),
        )
        fresh = sorted({e["user_id"] for e in events} | {o["user_id"] for o in orders})
        remap = {}
        for u in fresh:
            if seen_users and rng.random() < STREAM_RETURNING_SHARE:
                remap[u] = rng.choice(seen_users)
            else:
                remap[u] = f"U{seed}-{i:03d}-{u[1:]}"
        seen_users.extend(v for v in remap.values() if v not in seen_users)
        events = [{**e, "user_id": remap[e["user_id"]]} for e in events]
        all_orders += [{**o, "user_id": remap[o["user_id"]]} for o in orders]
        again = rng.sample(prev, int(len(prev) * STREAM_REDELIVER_SHARE)) if prev else []
        files.append(events + [dict(e) for e in again])
        prev = events
    return files, all_orders


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's log in the
    checkpoint (``sources/0/<batch>`` and its ``.compact`` form)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return out
    for n in names:
        if n.startswith(".") or n.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(d, n)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            continue  # replaced by a compaction while listing
        for line in lines[1:]:
            if line.strip():
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _commit_time(ckpt: str, batch: int) -> float | None:
    try:
        return os.path.getmtime(os.path.join(ckpt, "commits", str(batch)))
    except FileNotFoundError:
        return None


def _canon_rows(df, tag: str, drop=()):
    """``tests/test_gold_stream.py``'s canonical form, built in Spark:
    columns sorted, doubles rounded to 6 places, one JSON string per row
    (rows are sorted after collecting), tagged with ``tag``."""
    from pyspark.sql import functions as F

    df = df.drop(*drop)
    cols = [
        (F.round(f.name, 6) if f.dataType.typeName() in ("double", "float") else F.col(f.name))
        .alias(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    return df.select(F.lit(tag).alias("tag"), F.to_json(F.struct(*cols)).alias("row"))


def _gold_truth(spark, raw: str, stg_orders) -> dict:
    """Batch recompute of the eight gold tables over the same raw bytes."""
    from ecommerce_analytics_platform_spark.plans import models as M
    from ecommerce_analytics_platform_spark.sources.ndjson import enrich_clickstream
    from ecommerce_analytics_platform_spark.sources.schemas import CLICKSTREAM_RAW_SCHEMA

    # the shared inputs are cached: eight tables recomputed from the raw
    # JSON each would dominate the check's time
    ev = M.stg_clickstream_events(
        enrich_clickstream(spark.read.schema(CLICKSTREAM_RAW_SCHEMA).json(raw))
    ).cache()
    fe = M.fact_events(ev).cache()
    fo = M.fact_orders(stg_orders).cache()
    fs = M.fact_sessions(M.stg_clickstream_sessions(ev), stg_orders).cache()
    foi = M.fact_order_items(M.stg_order_items(stg_orders)).cache()
    cal = M.dim_date(fe)
    return {
        "metrics_daily_kpis": M.metrics_daily_kpis(cal, fs, fo),
        "metrics_daily_funnel": M.metrics_daily_funnel(fe, fo),
        "metrics_user_lifecycle": M.metrics_user_lifecycle(fs, fo),
        "metrics_product_performance_daily": M.metrics_product_performance_daily(foi, fo, fe),
        "dim_date": cal,
        "dim_users": M.dim_users(fe, fo),
        "dim_products": M.dim_products(foi),
        "dim_session_context": M.dim_session_context(fe),
    }


def stream_gold(run: Run) -> None:
    from pyspark.sql import DataFrame

    from ecommerce_analytics_platform_spark.plans import models as M
    from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
    from ecommerce_analytics_platform_spark.sources.ndjson import (
        enrich_orders,
        read_orders_raw,
        write_ndjson_fixture,
    )
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
    from ecommerce_analytics_platform_spark.streaming import gold

    spark = run.spark
    root = run.work
    raw = os.path.join(root, "raw")
    pending = os.path.join(root, "pending")
    wh_root = os.path.join(root, "warehouse")
    gold_root = os.path.join(root, "gold")
    ckpt = os.path.join(root, "checkpoint")

    files, orders = stream_inputs(run.seed, max(2, int(run.seconds / STREAM_GAP_S)))
    names = [f"click-{i:03d}.json" for i in range(len(files))]
    for name, rows in zip(names, files):
        write_ndjson_fixture(rows, os.path.join(pending, name))
    rows_of = {name: len(rows) for name, rows in zip(names, files)}
    # orders are staged the way tests/test_gold_stream.py stages them, not
    # with run_pipeline: see README.md, "Known defect"
    write_ndjson_fixture(orders, os.path.join(root, "orders", "part-00.json"))
    wh = Warehouse(spark, wh_root)
    wh.overwrite(
        M.stg_orders(enrich_orders(read_orders_raw(spark, os.path.join(root, "orders")))),
        "staging.stg_orders",
    )
    os.makedirs(raw)
    q = gold.start_continuous_gold(
        spark, raw, wh_root, gold_root, ckpt, available_now=False
    )
    run.setup_end = time.time()

    due: dict[str, float] = {}
    moved: dict[str, float] = {}
    batch_of: dict[str, int] = {}
    with ResourceSampler(jvm_pid(spark)) as res:
        t0 = time.time()
        for i, name in enumerate(names):
            due[name] = t0 + i * STREAM_GAP_S
            time.sleep(max(0.0, due[name] - time.time()))
            os.rename(os.path.join(pending, name), os.path.join(raw, name))
            moved[name] = time.time()
        deadline = time.time() + STREAM_DRAIN_TIMEOUT_S
        while time.time() < deadline and q.exception() is None:
            batch_of = _file_batches(ckpt)
            if all(n in batch_of and _commit_time(ckpt, batch_of[n]) for n in names):
                break
            time.sleep(0.2)
        run.windows.append((t0, time.time()))
    error = q.exception()
    run.progress = list(q.recentProgress)
    run.note("micro-batches (s): " + ", ".join(
        f"{p['batchId']}:{p['durationMs']['addBatch'] / 1000:.1f}"
        for p in run.progress if "addBatch" in (p.get("durationMs") or {})
    ))
    q.stop()
    if error is not None:
        run.note(f"stream failed: {error}")

    committed = {
        n: c for n in names
        if n in batch_of and (c := _commit_time(ckpt, batch_of[n])) is not None
    }
    for n in names:
        run.record(n in committed)
    fresh = [committed[n] - due[n] for n in names if n in committed] or [0.0]

    # all sixteen sides in one collect: the independent recomputes then
    # run side by side instead of as ~40 sequential jobs
    truth = _gold_truth(spark, raw, wh.read("staging.stg_orders"))
    parts, missing = [], set()
    for table, want in truth.items():
        try:
            got = ManifestTable(spark, os.path.join(gold_root, table)).read()
        except Exception as e:  # noqa: BLE001 — a missing table is a failed check
            run.note(f"{table}: {type(e).__name__}: {e}")
            missing.add(table)
            continue
        parts += [_canon_rows(got, f"got {table}", GOLD_BUCKET_COLUMNS.get(table, ())),
                  _canon_rows(want, f"want {table}")]
    canon: dict[str, list[str]] = {}
    if parts:
        for r in functools.reduce(DataFrame.unionByName, parts).collect():
            canon.setdefault(r["tag"], []).append(r["row"])
    for table in truth:
        ok = table not in missing and sorted(canon.get(f"got {table}", [])) == sorted(
            canon.get(f"want {table}", [])
        )
        if not ok:
            run.note(f"gold table {table} differs from the batch recompute")
        run.record(ok)

    run.e2e = {
        "pipeline_s": statistics.median(fresh),
    }

    # per-layer values only this loop can see
    start_of = {
        p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in run.progress if "addBatch" in (p.get("durationMs") or {})
    }
    files_in: dict[int, list[str]] = {}
    for n in committed:
        files_in.setdefault(batch_of[n], []).append(n)
    waits = [start_of[batch_of[n]] - due[n] for n in committed if batch_of[n] in start_of]
    commit_times = sorted(committed.values())
    run.extra = {
        **res.report(),
        "streaming.freshness_p90_s": (
            statistics.quantiles(fresh, n=10, method="inclusive")[8] if len(fresh) > 1 else fresh[0]
        ),
        "streaming.files_per_batch": tracing.median_or_zero([len(v) for v in files_in.values()]),
        "streaming.queue_wait_s": tracing.median_or_zero(waits),
        "bench.generator_late_s": max(moved[n] - due[n] for n in names),
        "bench.backlog_files_max": max(
            i + 1 - sum(1 for c in commit_times if c <= moved[n])
            for i, n in enumerate(names)
        ),
    }
    # rows per micro-batch from the raw files (numInputRows counts every
    # re-read of the batch inside foreachBatch)
    run.extra["streaming.rows_per_batch"] = tracing.median_or_zero(
        [sum(rows_of[n] for n in v) for v in files_in.values()]
    )


WORKLOADS = {
    "batch_medallion": batch_medallion,
    "stream_gold": stream_gold,
    # not in BENCHMARK.json: the scheduled incremental rerun rewrites
    # sessions wrongly (README.md, known defect 2)
    "batch_incremental": functools.partial(batch_medallion, rerun=True),
}

