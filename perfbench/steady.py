#!/usr/bin/env python3
"""Steadiness check of the benchmark.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--workloads a,b] [--out FILE]

Run from the repository root. Runs every workload of BENCHMARK.json --runs
times, each run a fresh JVM with its own seed, and prints for each
end-to-end metric its median, quartiles, interquartile spread as a share of
the median (the figure each metric's bound is set against) and largest
deviation from the median. Also prints each run's wall time and the share
of failed operations. --out writes every run's result as JSON.
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


def run_once(workload, seed, seconds, trace="0"):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med, max(abs(v - med) for v in values) / med


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workloads", default="")
    p.add_argument("--out", default="")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for w in names:
        results, walls = [], []
        for i in range(a.runs):
            seed = a.seed0 + i
            r, wall = run_once(w, seed, bench["run_seconds"])
            walls.append(wall)
            print(f"{w} seed={seed} wall={wall:.1f}s "
                  + (json.dumps(r["metrics"]) if r else "FAILED"), flush=True)
            if r:
                results.append(r)
        record[w] = {"runs": results, "walls": walls}
        print(f"\n{w}: {len(results)}/{a.runs} runs gave a result; run wall "
              f"median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        if not results:
            continue
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        print(f"{w}: failed share per run {shares}, correct {all(r['correct'] for r in results)}")
        print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'maxdev':>8}{'bound':>7}")
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, q1, q3, iqr, dev = spread(vals)
            flag = "" if iqr <= bounds[m] / 3 else "  > bound/3"
            print(f"{m:<20}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{iqr:>9.3f}{dev:>8.3f}"
                  f"{bounds[m]:>7.2f}{flag}")
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
