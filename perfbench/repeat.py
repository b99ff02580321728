"""Repeat one workload over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload serve_warm --runs 5 --seconds 10
    python3 perfbench/repeat.py --workload ingest_nrt --runs 10 --first-seed 100

Runs run.py untraced once per seed (first-seed, first-seed+1, ...) one after the
other and prints, per metric, the median, the quartiles (Python's
statistics.quantiles(n=4)) and the interquartile spread as a share of
the median, plus the failed share and each run's wall time. The spread
is what the bounds in BENCHMARK.json are set against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    shares = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=root, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        shares.append(res["failed"] / res["attempted"])
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
        print("   " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    print(f"failed share per run: {sorted(set(shares))}")
    print(f"{'metric':34s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / abs(med) if med else float("nan")
        print(f"{k:34s} {units[k]:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
