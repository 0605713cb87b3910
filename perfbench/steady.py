#!/usr/bin/env python3
"""Run one workload N times with consecutive seeds and print, for each
metric, the median, the quartiles, the quartile spread (q3 - q1) / median
and the full range (max - min) / median, plus each run's wall time.

    python3 perfbench/steady.py --workload queries --runs 10 [--first-seed 1]
        [--seconds S] [--trace 0|1] [--json out.json]

The quartiles are Python's ``statistics.quantiles(values, n=4)``. Use it to
set a metric's bound (its quartile spread should sit well inside it) and to
show that two sets of runs of the same code agree (compare their medians).
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


def run_once(workload, seed, seconds, trace):
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"seed {seed}: run.py exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def summarize(runs):
    rows = []
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        rel = (lambda x: x / med if med else 0.0)
        rows.append({"metric": name, "unit": runs[0]["metrics"][name]["unit"],
                     "median": med, "q1": q1, "q3": q3,
                     "iqr_rel": rel(q3 - q1), "range_rel": rel(max(vals) - min(vals))})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    runs, walls = [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        out, wall = run_once(a.workload, seed, seconds, a.trace)
        runs.append(out)
        walls.append(wall)
        print(f"seed {seed}: {wall:.1f} s wall, correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']}", flush=True)
    print(f"\n{a.workload}: {a.runs} runs of {seconds} s, wall per run "
          f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':32s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'iqr/med':>8s} {'range/med':>9s}")
    rows = summarize(runs)
    for r in rows:
        print(f"{r['metric']:32s} {r['unit']:6s} {r['median']:12.5g} {r['q1']:12.5g} "
              f"{r['q3']:12.5g} {r['iqr_rel']:8.3f} {r['range_rel']:9.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "walls": walls,
                       "summary": rows}, f, indent=1)


if __name__ == "__main__":
    main()
