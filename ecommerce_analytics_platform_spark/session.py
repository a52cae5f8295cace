"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster but testable on ``local[N]``:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — at 100 TB the static plan is always
  wrong somewhere; AQE fixes it from runtime stats.
- ``partitionOverwriteMode=dynamic`` — the incremental materializations
  (see ``operators/incremental.py``) rewrite only affected date
  partitions, never the whole table.
- Session timezone pinned to UTC: the reference engine (DuckDB) uses
  tz-naive TIMESTAMPs throughout (reference ingestion/batch_ingest.py:25-27),
  so UTC pinning gives bit-identical timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "ecommerce_analytics_platform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``shuffle_partitions`` defaults to 2× cores locally; on a real cluster
    set it to ~2-3× total executor cores (AQE coalesces the excess), or
    rely on ``spark.sql.adaptive.coalescePartitions`` entirely.
    """
    cores = _default_parallelism()
    # SPARK_GRAFT_MASTER lets the test/parity harness run the SAME
    # code under local-cluster[n,c,mem] — real executor processes
    # (serialization, broadcast transport, shuffle fetch) that
    # single-JVM local mode hides.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(2 * cores, 32)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Executor Python workers must import this package. Single-JVM
        # local mode hides the need (workers inherit the driver's cwd);
        # local-cluster / standalone executors launch elsewhere and
        # every mapInPandas UDF dies with ModuleNotFoundError (found by
        # the r6 local-cluster parity run). The repo root on the
        # executors' PYTHONPATH makes the package importable there.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default) carries no parquet footer min/max
        # stats, silently disabling row-group pruning on timestamp cluster
        # keys (see sources/layout.py) — write annotated int64 micros
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Always use the sort-based shuffle writer, never the bypass-merge
        # writer. Bypass opens one DiskBlockObjectWriter PER REDUCE
        # PARTITION per map task (then concatenates); measured r14 on this
        # kernel that costs ~7 ms per partition file, so a 64-partition
        # exchange charges ~450 ms of "shuffle write time" to EVERY map
        # task — 6.6 s of a 1.07 s query's 29 s task time on a 0.85 MB
        # shuffle. The sort writer streams one spill file per task: same
        # micro-bench dropped from 6,029 ms to 15 ms summed shuffle-write
        # time (guide §2.1/§2.3). Cluster-sized shuffles (more than the
        # 200-partition threshold) never hit bypass anyway, so this also
        # makes local plans use the SAME writer as a cluster.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Let AQE re-plan (coalesce) reads OVER CACHED relations. Off by
        # default because changing a cached plan's output partitioning can
        # lose a downstream exchange-elision; measured r15 on this suite:
        # queries that scan a small persisted table several times
        # (unigram words ×3/invocation, LSH signature tables, PPJoin
        # postings) schedule full static-width task waves per scan
        # without it — unigram train 3.7 → 1.9 s, everything else within
        # noise across alternating-session A/B (4 sessions). Scale-sane:
        # at cluster widths AQE only coalesces when the cached relation
        # is genuinely small.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _scan_split_estimate(df) -> int | None:
    """Estimate the SCAN partition count of a file-backed DataFrame from
    its leaf files' sizes using Spark's own split-packing math
    (FilePartition: maxSplitBytes = min(maxPartitionBytes, max(openCost,
    (total + files*openCost) / defaultParallelism))) — without the
    ~40 ms-per-call plan→RDD translation ``df.rdd.getNumPartitions()``
    pays on the driver (measured r14, guide §1). Returns None when the
    files are not local-filesystem paths (let the caller fall back to
    the exact RDD count)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-backed plan
        return None
    if not files:
        return None
    total = 0
    for f in files:
        if f.startswith("file:"):
            p = f[5:]
            while p.startswith("//"):
                p = p[1:]
            try:
                total += os.path.getsize(p)
            except OSError:
                return None
        elif f.startswith("/"):
            try:
                total += os.path.getsize(f)
            except OSError:
                return None
        else:
            return None  # remote FS: size not cheaply knowable here
    spark = df.sparkSession
    try:
        max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    except (TypeError, ValueError):  # "128m"-style values: use exact path
        return None
    par = spark.sparkContext.defaultParallelism
    padded = total + len(files) * open_cost
    split = min(max_split, max(open_cost, padded // max(par, 1)))
    return max(1, -(-padded // max(split, 1)))


def fan_out(df, min_rows: int = 0, python_depth: int = 0):
    """Round-robin repartition to the session's parallelism — but ONLY when
    the scan produced fewer tasks than cores.

    Local testdata files are single-row-group parquet, so a scan is ONE
    task and every pre-shuffle operator (shingling, md5, dot products,
    partial aggregates) runs on one core of 32. On a real cluster the same
    tables arrive as thousands of splits and this helper is a no-op — the
    partition-count guard means no extra exchange is ever added where the
    source already parallelizes. Use it in front of compute-heavy per-row
    work, after pruning to the needed columns (the exchange then moves
    only those).

    ``python_depth``: number of CHAINED Python-eval operators
    (mapInPandas/pandas UDF) the fanned stage will run. Each task holds
    one live Python worker PER chained operator, so tasks × depth is the
    concurrent-worker count; fanning a depth-3 pipeline to the full core
    count triples the worker population past the cores and measured 4×
    SLOWER than cores/depth (r14: gif pipeline 3.7 s at 32 tasks vs
    0.84 s at 8 on local[32]). Scale-adaptively target
    ``parallelism // depth`` so the worker population ≈ cores.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if python_depth > 1:
        target = max(1, target // python_depth)
    est = _scan_split_estimate(df)
    n = est if est is not None else df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)


def literal_df(spark: SparkSession, rows, schema: str):
    """Literal rows → DataFrame via the Arrow path (pandas input), not the
    pickled-Python-RDD path. ``createDataFrame(list)`` parallelizes PYTHON
    objects: every scan of the literal launches Python workers to unpickle
    them, so each downstream stage's tasks block ~300 ms on the
    JVM↔Python boundary (r14 thread dumps: 141/147 busy-task samples in
    BasePythonRunner.ReaderInputStream.read during CC rounds over a
    256-row memoized pair table). The Arrow path ships the rows to the
    JVM once at construction; scans are then pure JVM (guide §4.1 —
    eliminate the boundary). Measured 0.67 → 0.19 s per trivial groupBy
    over a 256-row literal; bit-identical rows (exceptAll both ways = 0).
    Falls back to the plain path if pandas/Arrow conversion rejects the
    values (mixed-type rows, exotic nested types)."""
    try:
        import pandas as pd

        names = [f.strip().split()[0] for f in schema.split(",")]
        pdf = pd.DataFrame([tuple(r) for r in rows], columns=names)
        out = spark.createDataFrame(pdf, schema)
        # the Arrow conversion can silently be bypassed (falls back to the
        # pickled path with a warning) — both produce correct results, so
        # no further checking here
        return out
    except Exception:  # noqa: BLE001 — conversion edge: keep the exact path
        return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Persist-lifetime registry (r6 ADVICE): operators that persist an
# intermediate whose consuming action belongs to the CALLER (LSH signature
# tables, LM count tables, PPJoin shingle relations) cannot unpersist it
# themselves. They register it here; the registry wrapper in
# plans/testdata_queries.py releases the previous invocation's pins on
# entry to any query, and library callers can call release_pinned()
# directly. Entries are anything exposing .unpersist(bool).
#
# The registry is PER-THREAD (r8, ADVICE r7): release_pinned() frees only
# what the calling thread pinned, so a query running on one thread can
# never destroy another thread's pinned caches or — worse — its result
# checkpoints (which have no lineage and cannot recompute). Single-thread
# callers see exactly the old semantics.
# ---------------------------------------------------------------------------

import threading as _threading

_PIN_TLS = _threading.local()


def _pins() -> list:
    lst = getattr(_PIN_TLS, "pins", None)
    if lst is None:
        lst = _PIN_TLS.pins = []
    return lst


def pin(obj):
    """Track a caller-consumed persist (or checkpoint adapter) for
    structural release by this thread's next :func:`release_pinned`."""
    _pins().append(obj)
    return obj


def release_pinned() -> None:
    """Unpersist everything the CALLING THREAD pinned since its last
    release."""
    lst = _pins()
    drained = lst[:]
    lst.clear()
    for obj in drained:
        try:
            obj.unpersist(False)
        except Exception:  # noqa: BLE001 — session already stopped
            pass
