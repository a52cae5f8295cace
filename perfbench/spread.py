#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: run one workload once per seed,
then print each metric's median, quartiles and (Q3 - Q1) / median, the
figure ``BENCHMARK.json``'s bounds are checked against.

    python3 perfbench/spread.py --workload stream_gold --seeds 1 2 3 4 5 [--out runs.jsonl]

Runs are sequential (each one is a whole Spark driver). ``--out`` appends
every result line, with its seed, to a JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()

    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    results = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not line.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(line)
        res["seed"] = seed
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.3f}" for k, m in res["metrics"].items()), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")

    if len(results) < 2:
        return 0
    print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}  (n={len(results)})")
    for name in results[0]["metrics"]:
        med, q1, q3, s = spread([r["metrics"][name]["value"] for r in results])
        print(f"{name:<28}{med:>12.3f}{q1:>12.3f}{q3:>12.3f}{s:>9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
