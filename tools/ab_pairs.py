#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload, parent against change.

    tools/ab_pairs.py <parent-checkout> <change-checkout> <workload> <seeds>
                      [--seconds S] [--out results.json]

<seeds> is a list of seeds and ranges, such as 1-10 or 1,3,11-14. For each
seed, `python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
runs once in each checkout, from that checkout's root; odd seeds run the
parent first, even seeds the change first, so neither side always meets
the warmer machine. S defaults to `run_seconds` in the change's
BENCHMARK.json, whose `end_to_end` list names the metrics, which way is
better and each one's bound.

A run that is not `correct`, has `failed` > 0 or prints no result stops
the tool with exit code 2: such a run says nothing about speed.

Printed per metric: each pair's values, the medians and quartiles of both
sides, the parent's IQR, the change's win count, and the median change
against the metric's bound. The verdict line says whether the change
wins on at least nine pairs in ten and its median beats the parent's by
more than the parent's IQR. Exit code 0 whatever the verdict.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"ab_pairs: {checkout} seed {seed} printed no result "
                 f"(exit {r.returncode}):\n{r.stderr[-2000:]}")
    if not result.get("correct") or result.get("failed", 0) > 0:
        sys.exit(f"ab_pairs: {checkout} seed {seed} refused: correct="
                 f"{result.get('correct')} failed={result.get('failed')}\n"
                 f"{r.stderr[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]

    pairs = []
    for seed in seeds_of(a.seeds):
        order = [("parent", a.parent), ("change", a.change)]
        if seed % 2 == 0:
            order.reverse()
        pair = {side: run(path, a.workload, seed, seconds) for side, path in order}
        pairs.append((seed, pair))
        print(f"seed {seed}: " + ", ".join(
            f"{m['name']} {pair['parent'][m['name']]:.4g} -> {pair['change'][m['name']]:.4g}"
            for m in metrics), flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump([{"seed": s, **p} for s, p in pairs], fh, indent=1)

    n = len(pairs)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for _, p in pairs]
        chg = [p["change"][name] for _, p in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        mp, mc = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        iqr = p3 - p1
        gain = (mp - mc) if lower else (mc - mp)
        worse = -gain / mp if mp else 0.0
        won = wins >= 0.9 * n and gain > iqr
        print(f"{name} [{m['unit']}, {m['better']} is better]: "
              f"parent median {mp:.4g} (quartiles {p1:.4g}-{p3:.4g}, IQR {iqr:.4g}), "
              f"change median {mc:.4g} (quartiles {c1:.4g}-{c3:.4g}); "
              f"change better in {wins}/{n}; "
              f"median {'worse' if worse > 0 else 'better'} by {abs(worse):.1%} "
              f"(bound {m['bound']:.0%}{', EXCEEDED' if worse > m['bound'] else ''}); "
              f"nine-tenths gain: {'yes' if won else 'no'}")


if __name__ == "__main__":
    main()
