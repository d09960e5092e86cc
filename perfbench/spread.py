#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median,
quartiles and run-to-run spread (quartile distance as a share of the
median) against its bound in ``BENCHMARK.json``.

Run from the repository root, one run at a time:

    python3 perfbench/spread.py --workload batch_corpus --seeds 1 2 3 4 5
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs, failed = [], 0
    for seed in args.seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace",
             str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        ok = proc.returncode == 0 and result.get("correct") is True
        failed += not ok
        print(f"seed {seed}: exit {proc.returncode}, correct "
              f"{result.get('correct')}, {time.perf_counter() - t:.1f} s",
              flush=True)
        if ok:
            runs.append({k: v["value"] for k, v in result["metrics"].items()})
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    if len(runs) >= 2:
        print(f"{'metric':32} {'q1':>12} {'median':>12} {'q3':>12} "
              f"{'spread':>7} {'bound':>6}")
    for m in metrics if len(runs) >= 2 else []:
        xs = [r[m["name"]] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        spread = stats.quartile_spread(xs) if q2 else float("nan")
        print(f"{m['name']:32} {q1:12.5g} {q2:12.5g} {q3:12.5g} "
              f"{spread:7.3f} {m.get('bound', ''):>6}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
