#!/usr/bin/env python3
"""Benchmark of record for the medallion pipeline and the streaming gold
layer.

    python3 perfbench/run.py --workload batch_medallion --seed 1 --seconds 12 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
runs one workload in a fresh Spark driver on ``local[<cores>]`` (cores =
``$SPARK_GRAFT_CPUS``, default: the CPUs this process may use), checks the
program's outputs, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with span wrappers and Spark's event log on and reports the
per-layer metrics instead (see spans.py). Scratch data lives under
``.perfbench/`` at the repository root and is removed at exit; a traced
run leaves its spans and metrics in ``.perfbench/traces/``.
See README.md for the workloads, the metrics and the known defects.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ecommerce_analytics_platform_spark"
sys.path[:0] = [HERE, ROOT]

# neither module imports pyspark at import time: the environment below
# must be in place before the JVM starts
import spans as tracing  # noqa: E402
import workloads as W  # noqa: E402


def log(started: float, what: str) -> None:
    """Progress line on stderr: seconds since process start."""
    print(f"perfbench: {time.time() - started:7.2f}s {what}", file=sys.stderr, flush=True)


def process_start_epoch() -> float:
    """When this process was started (epoch seconds), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def run_workload(args, started: float, work: str, cores: int, conf: dict, tracer):
    """Start the Spark driver, run the workload, stop the driver and wait
    for its JVM to exit."""
    from pyspark import SparkContext

    from ecommerce_analytics_platform_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    log(started, "session ready")
    gateway = SparkContext._gateway
    if tracer is not None:
        tracing.instrument(tracer, spark)
    run = W.Run(spark, work, args.seed, args.seconds, tracer)
    try:
        W.WORKLOADS[args.workload](run)
        log(started, f"workload done, timed phases {[round(b - a, 2) for a, b in run.windows]} s, "
                     f"CPU steal {run.extra.get('bench.cpu_steal_share', 0.0):.3f}")
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        log(started, "driver stopped")
    return run


def traced_metrics(args, run, setup_s: float, cores: int, tracer, event_dir: str) -> dict:
    """Per-layer metrics of a traced run; spans and metrics are also
    written to ``.perfbench/traces/``."""
    extra = dict(run.extra)
    extra.update({
        "trace.setup_s": setup_s,
        "trace.pipeline_s": run.e2e["pipeline_s"],
    })
    jobs = tracing.read_event_log(event_dir)
    layers = tracing.layer_metrics(tracer, jobs, run.windows, cores, run.progress, extra)
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-cpus{cores}")
    tracer.write(stem + ".spans.json")
    with open(stem + ".metrics.json", "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "end_to_end": {"setup_s": setup_s, **run.e2e},
            "per_layer": layers, "span_totals_s": tracing.phase_totals(tracer),
        }, f, indent=1)
    units = dict(tracing.PER_LAYER)
    return {k: (layers[k], units[k]) for k, _ in tracing.PER_LAYER}


def main() -> int:
    started = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "pipeline.py")):
        print(f"perfbench: the program ({PKG}/) is not in {ROOT}", file=sys.stderr)
        return 2

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark, the JVM and Python write stays inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")  # the default 24g exceeds small hosts
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    tracer = event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
        tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{int(started)}")

    try:
        run = run_workload(args, started, work, cores, conf, tracer)
        setup_s = run.setup_end - started
        if tracer is None:
            metrics = {"setup_s": (setup_s, "s"), **{k: (v, "s") for k, v in run.e2e.items()}}
        else:
            metrics = traced_metrics(args, run, setup_s, cores, tracer, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
