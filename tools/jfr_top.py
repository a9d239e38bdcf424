#!/usr/bin/env python3
"""Where a JVM forked processes and spent its CPU, from a JFR recording.

Usage:
  python3 tools/jfr_top.py <recording.jfr> [--top N]

Record a JVM with
  -XX:StartFlightRecording=filename=<recording.jfr>,settings=profile
(for a forked sbt run or a benchmark JVM, pass it in JAVA_TOOL_OPTIONS).
The script runs the JDK's `jfr print --json --stack-depth 40` and prints:

  1. every jdk.ProcessStart event, grouped by the program started and by
     its first caller outside the JDK and Hadoop's process launcher
     (org.apache.hadoop.util.Shell);
  2. per thread class (executor task, stream execution, main, other), the
     jdk.ExecutionSample frames with the most samples on top of the stack
     (self) and anywhere in it (inclusive, counted once per sample).
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

JDK = ("java.", "javax.", "jdk.", "sun.", "com.sun.")
LAUNCHER = ("org.apache.hadoop.util.Shell",)
THREADS = (("executor task", "Executor task launch worker"),
           ("stream execution", "stream execution thread"),
           ("main", "main"))


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        raise SystemExit("jfr_top: the JDK's `jfr` tool is not on PATH (set JAVA_HOME)")
    return found


def events(path):
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", "40",
         "--events", "jdk.ProcessStart,jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, check=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(values):
    """Frames of an event's stack, innermost first, as `pkg.Class.method`."""
    st = values.get("stackTrace") or {}
    return [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
            for f in st.get("frames") or []]


def thread_class(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or ""
    for label, prefix in THREADS:
        if name == prefix or (label != "main" and name.startswith(prefix)):
            return label
    return "other"


def caller(stack):
    for f in stack:
        if not f.startswith(JDK) and not f.startswith(LAUNCHER):
            return f
    return "(JDK only)"


def table(title, counter, top):
    print(f"\n{title}")
    for key, n in counter.most_common(top):
        print(f"  {n:7d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    args = ap.parse_args()

    forks = collections.Counter()
    fork_threads = collections.Counter()
    self_t = collections.defaultdict(collections.Counter)
    incl_t = collections.defaultdict(collections.Counter)
    samples = collections.Counter()
    for e in events(args.recording):
        v = e["values"]
        if e["type"] == "jdk.ProcessStart":
            program = os.path.basename((v.get("command") or "?").split(" ")[0])
            forks[f"{program:10s} {caller(frames(v))}"] += 1
            fork_threads[thread_class(v.get("eventThread"))] += 1
        else:
            cls = thread_class(v.get("sampledThread"))
            stack = frames(v)
            samples[cls] += 1
            if stack:
                self_t[cls][stack[0]] += 1
            incl_t[cls].update(set(stack))

    total = sum(forks.values())
    print(f"jdk.ProcessStart: {total} events"
          + ("" if not total else " (" + ", ".join(
              f"{c} {n}" for c, n in fork_threads.most_common()) + ")"))
    if total:
        table("forks by program and first caller outside the JDK and Shell:",
              forks, args.top)
    for label in [t for t, _ in THREADS] + ["other"]:
        if not samples[label]:
            continue
        print(f"\n== {label} threads: {samples[label]} execution samples")
        table("top self frames:", self_t[label], args.top)
        table("top inclusive frames:", incl_t[label], args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
