#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workload floor_mix --seeds 1-10 [--trace 0]

For every metric prints the median and the distance between the first and
third quartile as a share of the median (statistics.quantiles, n=4), next
to the metric's bound from BENCHMARK.json, plus each run's wall time. Each
run's harness result is kept in .perfbench_work/spread/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in range(lo, hi + 1):
        t = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)], capture_output=True, text=True)
        walls.append(time.time() - t)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            sys.exit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        keep = os.path.join(".perfbench_work", "spread")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(".perfbench_work", "run", "result.json"),
                    os.path.join(keep, f"{args.workload}-{args.trace}-{seed}.json"))
        if not res["correct"]:
            print(out.stderr[-3000:], file=sys.stderr)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} wall={walls[-1]:.1f}s " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':34} {'median':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:34} {med:12.4f} {spread:8.3f} {bounds.get(k) or '':>6}")
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
