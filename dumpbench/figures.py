#!/usr/bin/env python3
"""Recreates the benchmark's reference figures.

    python3 dumpbench/figures.py [--seeds 10]

Runs every workload of BENCHMARK.json once per seed 1..N with tracing off,
for BENCHMARK.json's run_seconds, then once per workload with tracing on
(seed 1), and prints, per workload, each end-to-end metric's median and its
spread (the distance between the first and third quartile as a share of the
median), followed by the per-layer metrics of the traced run. The raw result
lines are appended to .bench_build/dumpbench/figures.jsonl.
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
OUT = os.path.join(ROOT, ".bench_build", "dumpbench", "figures.jsonl")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or not med:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    seeds = range(1, 1 + args.seeds)
    for workload in (w["name"] for w in bench["workloads"]):
        results = []
        for seed in seeds:
            result, wall = run(workload, seed, seconds, 0)
            results.append((result, wall))
            with open(OUT, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "trace": 0,
                                    "wall_s": wall, "result": result}) + "\n")
        walls = [w for _, w in results]
        failed = {f"{r['failed']}/{r['attempted']}" for r, _ in results}
        print(f"\n{workload}: {len(results)} runs, seeds {seeds.start}-{seeds.stop - 1}, "
              f"correct={all(r['correct'] for r, _ in results)}, failed/attempted {sorted(failed)}, "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':16s} {'unit':8s} {'median':>14s} {'spread':>7s}")
        for name, m in results[0][0]["metrics"].items():
            values = [r["metrics"][name]["value"] for r, _ in results]
            print(f"  {name:16s} {m['unit']:8s} {statistics.median(values):14.4f} "
                  f"{spread(values):7.3f}")
        traced, wall = run(workload, seeds.start, seconds, 1)
        with open(OUT, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": seeds.start, "trace": 1,
                                "wall_s": wall, "result": traced}) + "\n")
        print(f"  traced run (seed {seeds.start}, {wall:.1f} s):")
        for name, m in traced["metrics"].items():
            print(f"    {name:28s} {m['unit']:6s} {m['value']:14.4f}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
