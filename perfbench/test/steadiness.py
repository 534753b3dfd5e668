#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs every workload of BENCHMARK.json once per seed (untraced) and prints,
for each end-to-end metric, the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, next to the metric's bound.

    python3 perfbench/test/steadiness.py [--seeds 1-10] [--workloads a,b] [--json out.json]

Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--json")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        for seed in range(lo, hi + 1):
            t = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                   str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not result["correct"] or result["failed"]:
                sys.exit(f"{w} seed {seed}: run failed")
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
        rows = {}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rows[m] = {"median": statistics.median(vs), "spread": (q3 - q1) / statistics.median(vs),
                       "bound": bounds[m], "values": vs}
            print(f"{w:16s} {m:12s} median {rows[m]['median']:10.3f}  spread {rows[m]['spread']:.3f}"
                  f"  bound {bounds[m]}")
        print(f"{w:16s} run wall s: median {statistics.median(walls):.1f}, max {max(walls):.1f}")
        record[w] = {"metrics": rows, "wall_s": walls}
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
