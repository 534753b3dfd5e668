#!/usr/bin/env python3
"""Census of the processes a JVM started, from a JFR recording.

    tools/jfr_census.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events through the JDK's `jfr`
tool (`jfr print --json`; `$JAVA_HOME/bin/jfr`, else `jfr` on the PATH)
and prints the process starts counted two ways:

- by command: the program's file name (`chmod`, `rm`, ...);
- by caller: the program with the first stack frame, from the top, whose
  class is in `org.apache.spark`, `graft` or `perfbench`, so a start
  that Hadoop makes on Spark's behalf is charged to the Spark code that
  asked for it. A start with no such frame is charged to its first
  frame outside `java.` and `jdk.`.

`jdk.ProcessStart` is on, with stack traces, in the JDK's `default`
settings, so a recording made with

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=default

around any JVM (a perfbench run, a test fork) can be read here.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

OWN = ("org.apache.spark.", "graft.", "perfbench.")
PLATFORM = ("java.", "jdk.", "sun.")


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_census: no `jfr` tool (set JAVA_HOME to a JDK)")
    return found


def events(recording):
    r = subprocess.run([jfr_tool(), "print", "--json", "--stack-depth", "64",
                        "--events", "jdk.ProcessStart", recording],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"jfr_census: jfr print failed: {r.stderr.strip()}")
    return json.loads(r.stdout)["recording"]["events"]


def frame_name(frame):
    method = frame["method"]
    cls = method["type"]["name"].replace("/", ".")
    return f"{cls}.{method['name']}"


def caller(values):
    frames = [frame_name(f) for f in (values.get("stackTrace") or {}).get("frames", [])]
    for name in frames:
        if name.startswith(OWN):
            return name
    for name in frames:
        if not name.startswith(PLATFORM):
            return name
    return "(no frame)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="caller rows to print")
    args = ap.parse_args()

    by_command = collections.Counter()
    by_caller = collections.Counter()
    for e in events(args.recording):
        values = e["values"]
        command = os.path.basename((values.get("command") or "").split(" ")[0]) or "(unknown)"
        by_command[command] += 1
        by_caller[(command, caller(values))] += 1

    total = sum(by_command.values())
    print(f"process starts: {total}")
    print("\nby command:")
    for command, n in by_command.most_common():
        print(f"{n:8d}  {command}")
    print("\nby command and first Spark/graft frame:")
    for (command, frame), n in by_caller.most_common(args.top):
        print(f"{n:8d}  {command:<12s} {frame}")


if __name__ == "__main__":
    main()
