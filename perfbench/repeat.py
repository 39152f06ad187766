#!/usr/bin/env python3
"""Run one workload repeatedly, one seed per run, and print for each
metric its median, first and third quartile, and the spread
(q3 - q1) / median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/repeat.py --workload etl_migrate --runs 10 [--seed0 1]
        [--seconds N] [--trace 0|1]

Quartiles are `statistics.quantiles(values, n=4)`. The raw results go
to `.bench_build/repeat-<workload>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            sys.exit(1)
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"], r["log"] = seed, wall, p.stderr[-3000:]
        runs.append(r)
        print(f"seed {seed}: {wall:.1f}s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                       if k in bounds or a.trace == 0), flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", f"repeat-{a.workload}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"\n{a.workload}: {len(runs)} runs, all correct: "
          f"{all(r['correct'] for r in runs)}, failed shares: {sorted(shares)}, "
          f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if spread < b / 3 else
                                     "within bound" if spread <= b else "OVER")
        print(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if b is None else b:>6} {flag}")


if __name__ == "__main__":
    main()
