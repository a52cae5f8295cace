"""Tracing for the traced benchmark run (``--trace 1``).

Everything here works from OUTSIDE the program: spans are recorded by
wrapping the public functions and methods of each layer's module at run
time, and Spark counters come from Spark's own event log, enabled through
``get_spark(extra_conf=...)``. No program file is edited.

- A span is ``{id, name, parent, run, thread, start, end}`` (epoch
  seconds). Spans stay in memory and are written out once, at the end.
- Spark jobs are attributed to spans by submit time: the pipeline issues
  its jobs sequentially, so the job submitted inside a span's interval
  belongs to that span.
- Jobs the tracer itself submits (row counts of merge inputs, needed for
  the rewrite ratio) run under the job group ``perfbench-probe`` and are
  left out of every Spark counter.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "ecommerce_analytics_platform_spark"
PROBE_GROUP = "perfbench-probe"

# plans.runner models, each timed on the full refresh
FULL_MODELS = [
    "staging.stg_clickstream_events", "staging.stg_clickstream_sessions",
    "staging.stg_orders", "staging.stg_order_items",
    "marts.fact_events", "marts.fact_sessions", "marts.fact_orders",
    "marts.fact_order_items", "marts.dim_users", "marts.dim_products",
    "marts.dim_date", "marts.dim_session_context", "marts.metrics_daily_kpis",
    "marts.metrics_daily_funnel", "marts.metrics_user_lifecycle",
    "marts.metrics_product_performance_daily",
]

# every per-layer metric, in BENCHMARK.json order, with its unit; a traced
# run prints all of them and a layer the workload bypasses reads 0
PER_LAYER: list[tuple[str, str]] = (
    [
        ("spark.jobs", "count"), ("spark.tasks", "count"),
        ("spark.task_run_s", "s"), ("spark.gc_s", "s"),
        ("spark.shuffle_write_mb", "MB"), ("spark.input_mb", "MB"),
        ("spark.spill_mb", "MB"), ("spark.slot_busy_share", "ratio"),
        ("spark.driver_gap_s", "s"),
        ("streaming.ingest.run_backfill_s", "s"),
        ("sources.ndjson.orders_landing_s", "s"),
        ("sources.warehouse.append_new_dates_s", "s"),
        ("sources.warehouse.validate_table_s", "s"),
    ]
    + [(f"plans.runner.full.{t}_s", "s") for t in FULL_MODELS]
    + [
        ("plans.runner.run_tests_s", "s"), ("plans.runner.test_jobs", "count"),
        ("operators.incremental.lookback_filter_s", "s"),
        ("operators.incremental.merge_delete_insert_s", "s"),
        ("operators.incremental.merge_calls", "count"),
        ("operators.incremental.rows_written", "count"),
        ("operators.incremental.rewrite_ratio", "ratio"),
        ("streaming.micro_batches", "count"),
        ("streaming.files_per_batch", "count"),
        ("streaming.rows_per_batch", "count"),
        ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
        ("streaming.query_planning_s", "s"), ("streaming.get_batch_s", "s"),
        ("streaming.latest_offset_s", "s"), ("streaming.wal_commit_s", "s"),
        ("streaming.queue_wait_s", "s"),
        ("streaming.freshness_p90_s", "s"),
        ("streaming.gold.jobs_per_batch", "count"),
        ("streaming.gold.driver_gap_s_per_batch", "s"),
        ("sources.manifest.replace_partitions_s", "s"),
        ("sources.manifest.replace_partitions_calls", "count"),
        ("sources.manifest.merge_delete_insert_s", "s"),
        ("sources.manifest.merge_delete_insert_calls", "count"),
        ("sources.manifest.read_s", "s"),
        ("sources.manifest.commits", "count"),
        ("sources.logstore.put_if_absent_s", "s"),
        ("sources.logstore.put_if_absent_calls", "count"),
        ("sources.logstore.conflicts", "count"),
        ("sources.warehouse.append_s", "s"),
        ("bench.generator_late_s", "s"),
        ("bench.backlog_files_max", "count"),
        ("bench.peak_rss_mb", "MB"),
        ("bench.cpu_steal_share", "ratio"),
        ("trace.span_coverage", "ratio"),
        ("trace.setup_s", "s"), ("trace.pipeline_s", "s"),
    ]
)


class Tracer:
    """In-memory span recorder. One per benchmark process."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.queries: list = []  # StreamingQuery handles seen by start wrappers
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._model: dict | None = None  # open plans.runner model window
        self.phase = "full"  # plans.runner pass: "full" or "rerun"

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str) -> dict:
        st = self._stack()
        return {
            "id": next(self._ids), "name": name,
            "parent": st[-1] if st else None, "run": self.run_id,
            "thread": threading.get_ident(), "start": time.time(), "end": None,
        }

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        with self._lock:
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str):
        rec = self._open(name)
        st = self._stack()
        st.append(rec["id"])
        try:
            yield rec
        finally:
            st.pop()
            self._close(rec)

    def wrap(self, fn, name: str, after=None):
        """``fn`` timed as span ``name``; ``after(rec, args, kwargs, out)``
        may annotate the span with the call's result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        return traced

    # -- plans.runner model windows ----------------------------------------
    # run_models materializes each model inside its own loop, so a model's
    # window runs from its builder call to the next model's builder call
    # (or the end of run_models): build, write, and the row count.

    def model_boundary(self, table: str | None) -> None:
        if self._model is not None:
            self._close(self._model)
            self._model = None
        if table is not None:
            self._model = self._open(f"plans.runner.{self.phase}.{table}")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def _rebind(orig, new) -> None:
    """Replace ``orig`` by ``new`` in every loaded module of the program —
    ``from x import f`` copies the binding, so patching only the defining
    module would miss callers such as ``pipeline.run_models``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def instrument(tracer: Tracer, spark) -> None:
    """Install span wrappers around each layer's public entry points."""
    import importlib

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    mods = {
        m: importlib.import_module(f"{PKG}.{m}")
        for m in (
            "pipeline", "streaming.ingest", "streaming.gold", "sources.ndjson",
            "plans.runner", "operators.incremental", "sources.warehouse",
            "sources.manifest", "sources.logstore",
        )
    }

    def probe_rows(df) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(PROBE_GROUP, "row count for the rewrite ratio")
        try:
            return df.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def merge_with_count(fn):
        name = "operators.incremental.merge_delete_insert"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            batch = kwargs.get("new_batch", args[2] if len(args) > 2 else None)
            rows_in = probe_rows(batch)
            with tracer.span(name) as rec:
                rec["rows_in"] = rows_in
                return fn(*args, **kwargs)

        return traced

    def note_query(_rec, _args, _kwargs, out):
        tracer.queries.append(out)

    def note_put(rec, _args, _kwargs, out):
        rec["ok"] = bool(out)

    funcs = [
        ("pipeline", "run_pipeline", None),
        ("streaming.ingest", "run_backfill", None),
        ("streaming.ingest", "start_landing_stream", note_query),
        ("streaming.gold", "start_continuous_gold", note_query),
        ("sources.ndjson", "write_landing", None),
        ("plans.runner", "run_tests", None),
        ("operators.incremental", "lookback_filter", None),
    ]
    for mod, name, after in funcs:
        orig = getattr(mods[mod], name)
        _rebind(orig, tracer.wrap(orig, f"{mod}.{name}", after))

    orig = mods["operators.incremental"].merge_delete_insert
    _rebind(orig, merge_with_count(orig))

    runner = mods["plans.runner"]
    orig_run_models = runner.run_models

    @functools.wraps(orig_run_models)
    def run_models(*args, **kwargs):
        tracer.phase = "full" if kwargs.get("full_refresh") else "rerun"
        with tracer.span("plans.runner.run_models"):
            try:
                return orig_run_models(*args, **kwargs)
            finally:
                tracer.model_boundary(None)

    _rebind(orig_run_models, run_models)

    def marked(table, builder):
        @functools.wraps(builder)
        def build(*args, **kwargs):
            tracer.model_boundary(table)
            return builder(*args, **kwargs)

        return build

    for spec in runner.MODELS:
        spec.builder = marked(spec.name, spec.builder)

    methods = [
        ("sources.warehouse", "Warehouse",
         {"append_new_dates": None, "validate_table": None, "append": None,
          "overwrite": None}),
        ("sources.manifest", "ManifestTable",
         {"replace_partitions": None, "merge_delete_insert": None, "read": None}),
        ("sources.logstore", "PosixLogStore", {"put_if_absent": note_put}),
    ]
    for mod, cls_name, names in methods:
        cls = getattr(mods[mod], cls_name)
        for name, after in names.items():
            setattr(cls, name, tracer.wrap(getattr(cls, name), f"{mod}.{name}", after))

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        return orig_fb(self, tracer.wrap(func, "streaming.gold.process_batch"))

    DataStreamWriter.foreachBatch = foreach_batch


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (uncompressed) event log(s) under ``log_dir``, each
    with its submit/end epoch seconds, job group and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a rolling log: a directory of ``events_<n>_<app>``
    # files (plus an ``appstatus`` marker); older layouts write one file
    paths = sorted(
        (
            os.path.join(d, fn)
            for d, _dirs, files in os.walk(log_dir)
            for fn in files
            if not fn.startswith(("appstatus", "."))
        ),
        key=lambda p: _event_file_index(os.path.basename(p)),
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0, "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_w": 0,
                        "input": 0, "spill": 0, "records_out": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job["spill"] += m.get("Disk Bytes Spilled", 0)
                    job["records_out"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0
                    )
    out = []
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
        out.append(job)
    return sorted(out, key=lambda j: j["submit"])


def _event_file_index(name: str) -> int:
    parts = name.split("_")
    return int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

def layer_metrics(
    tracer: Tracer,
    jobs: list[dict],
    windows: list[tuple[float, float]],
    cores: int,
    progress: list[dict],
    extra: dict[str, float],
) -> dict[str, float]:
    """Every PER_LAYER metric over the timed phases ``windows``.

    ``progress``: streaming progress dicts of the query the workload
    measures; ``extra``: values the workload measured itself (file
    batching, freshness, generator health, traced end-to-end values)."""
    def timed(t):
        return any(lo <= t <= hi for lo, hi in windows)

    spans = [s for s in tracer.spans if timed(s["start"])]
    by_id = {s["id"]: s for s in tracer.spans}
    jobs = [j for j in jobs if timed(j["submit"]) and j["group"] != PROBE_GROUP]
    out = {name: 0.0 for name, _ in PER_LAYER}

    def dur(s):
        return s["end"] - s["start"]

    def named(name, within=None):
        return [
            s for s in spans
            if s["name"] == name
            and (within is None or within["start"] <= s["start"] <= within["end"])
        ]

    def ancestors(s):
        p = by_id.get(s["parent"])
        while p is not None:
            yield p
            p = by_id.get(p["parent"])

    def top_level(name, layer):
        """Calls of ``name`` not nested in another call of the same layer
        (a ManifestTable merge commits through replace_partitions)."""
        return [
            s for s in named(name)
            if not any(a["name"].startswith(layer) for a in ancestors(s))
        ]

    def jobs_in(s):
        return [j for j in jobs if s["start"] <= j["submit"] <= s["end"]]

    # -- Spark counters over the timed phases
    wall = max(sum(hi - lo for lo, hi in windows), 1e-9)
    out["spark.jobs"] = len(jobs)
    out["spark.tasks"] = sum(j["tasks"] for j in jobs)
    out["spark.task_run_s"] = sum(j["run_s"] for j in jobs)
    out["spark.gc_s"] = sum(j["gc_s"] for j in jobs)
    out["spark.shuffle_write_mb"] = sum(j["shuffle_w"] for j in jobs) / 2**20
    out["spark.input_mb"] = sum(j["input"] for j in jobs) / 2**20
    out["spark.spill_mb"] = sum(j["spill"] for j in jobs) / 2**20
    out["spark.slot_busy_share"] = out["spark.task_run_s"] / (wall * cores)
    busy = [(j["submit"], j["end"]) for j in jobs]
    out["spark.driver_gap_s"] = wall - sum(_covered(busy, lo, hi) for lo, hi in windows)

    # -- batch ingest + plans.runner, attributed to the full refresh
    full = named("bench.full_refresh")
    if full:
        f = full[0]
        for metric, name in [
            ("streaming.ingest.run_backfill_s", "streaming.ingest.run_backfill"),
            ("sources.ndjson.orders_landing_s", "sources.ndjson.write_landing"),
            ("sources.warehouse.append_new_dates_s", "sources.warehouse.append_new_dates"),
            ("sources.warehouse.validate_table_s", "sources.warehouse.validate_table"),
            ("plans.runner.run_tests_s", "plans.runner.run_tests"),
        ]:
            out[metric] = sum(dur(s) for s in named(name, f))
        out["plans.runner.test_jobs"] = sum(
            len(jobs_in(s)) for s in named("plans.runner.run_tests", f)
        )
        # top-level spans of the full refresh account for pipeline_s
        kids = [
            s for s in spans
            if by_id.get(s["parent"], {}).get("name") == "pipeline.run_pipeline"
            and f["start"] <= s["start"] <= f["end"]
        ]
        out["trace.span_coverage"] = sum(dur(s) for s in kids) / max(dur(f), 1e-9)
    for t in FULL_MODELS:
        out[f"plans.runner.full.{t}_s"] = sum(dur(s) for s in named(f"plans.runner.full.{t}"))

    # -- operators.incremental over the whole window
    merges = named("operators.incremental.merge_delete_insert")
    out["operators.incremental.lookback_filter_s"] = sum(
        dur(s) for s in named("operators.incremental.lookback_filter")
    )
    out["operators.incremental.merge_delete_insert_s"] = sum(dur(s) for s in merges)
    out["operators.incremental.merge_calls"] = len(merges)
    written = sum(j["records_out"] for s in merges for j in jobs_in(s))
    rows_in = sum(s.get("rows_in", 0) for s in merges)
    out["operators.incremental.rows_written"] = written
    out["operators.incremental.rewrite_ratio"] = written / rows_in if rows_in else 0.0

    # -- streaming progress, per micro-batch medians
    batches = [p for p in progress if "addBatch" in (p.get("durationMs") or {})]
    out["streaming.micro_batches"] = len(batches)
    for metric, key in [
        ("streaming.trigger_s", "triggerExecution"), ("streaming.add_batch_s", "addBatch"),
        ("streaming.query_planning_s", "queryPlanning"), ("streaming.get_batch_s", "getBatch"),
        ("streaming.latest_offset_s", "latestOffset"), ("streaming.wal_commit_s", "walCommit"),
    ]:
        out[metric] = median_or_zero(p["durationMs"].get(key, 0) / 1000.0 for p in batches)
    out["streaming.rows_per_batch"] = median_or_zero(p.get("numInputRows", 0) for p in batches)

    gold = named("streaming.gold.process_batch")
    if gold:
        out["streaming.gold.jobs_per_batch"] = median_or_zero(len(jobs_in(s)) for s in gold)
        out["streaming.gold.driver_gap_s_per_batch"] = median_or_zero(
            dur(s) - _covered([(j["submit"], j["end"]) for j in jobs_in(s)], s["start"], s["end"])
            for s in gold
        )
        add_batch = sum(p["durationMs"]["addBatch"] / 1000.0 for p in batches)
        out["trace.span_coverage"] = sum(dur(s) for s in gold) / max(add_batch, 1e-9)

    # -- sources.manifest / logstore / stream-side warehouse
    for op in ("replace_partitions", "merge_delete_insert"):
        calls = top_level(f"sources.manifest.{op}", "sources.manifest")
        out[f"sources.manifest.{op}_s"] = sum(dur(s) for s in calls)
        out[f"sources.manifest.{op}_calls"] = len(calls)
    out["sources.manifest.read_s"] = sum(
        dur(s) for s in top_level("sources.manifest.read", "sources.manifest")
    )
    puts = named("sources.logstore.put_if_absent")
    out["sources.manifest.commits"] = sum(1 for s in puts if s.get("ok"))
    out["sources.logstore.put_if_absent_s"] = sum(dur(s) for s in puts)
    out["sources.logstore.put_if_absent_calls"] = len(puts)
    out["sources.logstore.conflicts"] = sum(1 for s in puts if not s.get("ok"))
    out["sources.warehouse.append_s"] = sum(
        dur(s) for s in top_level("sources.warehouse.append", "sources.warehouse")
    )

    out.update(extra)
    return {k: float(v) for k, v in out.items()}


def phase_totals(tracer: Tracer) -> dict[str, float]:
    """Total span time per span name (for the recorded trace summary)."""
    tot: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        tot[s["name"]] += s["end"] - s["start"]
    return dict(sorted(tot.items(), key=lambda kv: -kv[1]))
