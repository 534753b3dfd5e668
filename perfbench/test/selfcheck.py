#!/usr/bin/env python3
"""Self-check of the benchmark itself, on small inputs.

For each workload: two traced runs with the same seed and fixed op counts
must give identical layer counts, and a run with another seed must see
different inputs (the input fingerprint the benchmark logs must change).

    python3 perfbench/test/selfcheck.py [workload ...]

Run from the root of a checkout. Exits 1 on any difference.
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
# counts that must repeat exactly on the same seed
COUNTS = ("sched.jobs", "sched.stages", "sched.tasks", "statestore.gets_per_event",
          "statestore.puts_per_event", "statestore.replay_files", "ext.ckpt_files", "ext.ckpt_bytes")
DEFAULT = ("stream_changes", "store_restore", "cc_local", "cc_reliable")


def run(workload, seed):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", "1", "--size", "small", "--warmup", "1", "--ops", "4"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    fp = re.findall(r"inputs fingerprint (\S+)", p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not fp:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{workload} seed {seed}: outputs incorrect")
    return {k: result["metrics"][k]["value"] for k in COUNTS}, fp[-1]


def main():
    bad = []
    for w in sys.argv[1:] or DEFAULT:
        a, fa = run(w, 1)
        b, fb = run(w, 1)
        _, fc = run(w, 2)
        diff = {k: (a[k], b[k]) for k in COUNTS if a[k] != b[k]}
        print(f"{w}: counts {a}")
        if diff:
            bad.append(f"{w}: counts differ between two runs of seed 1: {diff}")
        if fa != fb:
            bad.append(f"{w}: inputs differ between two runs of seed 1")
        if fa == fc:
            bad.append(f"{w}: seeds 1 and 2 give the same inputs")
    for b in bad:
        print("FAIL", b)
    print("selfcheck:", "FAIL" if bad else "ok")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
