#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source
(once per source change), then runs one workload in one JVM and prints its
result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Optional: --size small (the self-check's inputs), --warmup N and --ops N
(fixed op counts, used to record warm-up plateaus), --verbose 1.
Run from the root of a checkout. Needs `java` and SPARK_HOME (its jars
hold Spark and the Scala compiler). Everything is written under the build
directory ($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("stream_changes", "store_restore", "cc_reliable", "cc_local")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return files


def build(root, bdir, jars):
    """Compiles the program and the benchmark with the Scala compiler that
    ships with Spark; skipped when the sources are unchanged."""
    files = sources(root)
    if not any("/src/main/scala/" in f for f in files):
        fail("no program sources under src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "small"))
    ap.add_argument("--warmup", type=int)
    ap.add_argument("--ops", type=int)
    ap.add_argument("--verbose", default="0")
    a = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    jars = os.path.join(spark_home, "jars")
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    classes = build(root, bdir, jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(bdir, "work", tag)
    out = os.path.join(bdir, "out")
    logs = os.path.join(bdir, "logs")
    for d in (work, out, logs):
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--work", work, "--out", out,
            "--verbose", a.verbose]
    if a.warmup is not None:
        cmd += ["--warmup", str(a.warmup)]
    if a.ops is not None:
        cmd += ["--ops", str(a.ops)]

    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"no result from the run (exit {p.returncode}, log: {log_path})")
    with open(log_path) as fh:
        notes = [l for l in fh if l.startswith("[perfbench]")]
    failed_run = p.returncode != 0 or not result["correct"]
    sys.stderr.write("".join(l for l in notes if failed_run or "inputs fingerprint" in l)[-4000:])
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
