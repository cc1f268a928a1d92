#!/usr/bin/env python3
"""Summarise a Java Flight Recording: where the CPU samples fall and which
child processes the JVM started.

Usage:
    python3 tools/jfr_hotspots.py RECORDING.jfr [--top N] [--depth N]

Prints
  * `jdk.ExecutionSample` counts grouped by thread (digits in thread names
    folded to `#`, so the executor task threads form one group) and by
    Spark stage kind: `ShuffleMapTask`, `ResultTask`, `task thread, no
    task frame` (an executor thread outside `runTask`, e.g. deserialising
    the task, or a stack deeper than the recorded depth), or
    `driver/other`; each stage with its top leaf methods;
  * `jdk.ProcessStart` counts grouped by command (the program and its
    arguments without paths) and by command plus the calling frames
    (the first `--depth` frames outside the JDK and `org.apache.hadoop.util`).

To record a benchmark run without changing any file, pass the recording
flag through the environment of the JVM the run starts, for example:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=256 \\
    -XX:StartFlightRecording=filename=/tmp/bulk.jfr,settings=profile" \\
        python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 15
    python3 tools/jfr_hotspots.py /tmp/bulk.jfr

It reads the recording with the JDK's `jfr print --json` (the `jfr` tool
on PATH, else `$JAVA_HOME/bin/jfr`).
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

STAGES = (("org.apache.spark.scheduler.ShuffleMapTask", "ShuffleMapTask"),
          ("org.apache.spark.scheduler.ResultTask", "ResultTask"))
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.")
STACK_DEPTH = 256  # `jfr print` keeps 5 frames per stack unless told otherwise


def jfr_tool() -> str:
    found = shutil.which("jfr")
    if found:
        return found
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    sys.exit("no `jfr` tool on PATH or in $JAVA_HOME/bin")


def events(path: str, types: str) -> list:
    out = subprocess.run([jfr_tool(), "print", "--json", "--stack-depth", str(STACK_DEPTH),
                          "--events", types, path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(event: dict) -> list:
    """The stack as `package.Class.method` strings, innermost first."""
    trace = event["values"].get("stackTrace") or {}
    return [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
            for f in trace.get("frames") or []]


def thread_name(event: dict, field: str) -> str:
    t = event["values"].get(field) or {}
    return re.sub(r"\d+", "#", t.get("javaName") or t.get("osName") or "?")


def stage(stack: list, thread: str) -> str:
    for prefix, name in STAGES:
        if any(f.startswith(prefix) for f in stack):
            return name
    return "task thread, no task frame" if thread.startswith("Executor task launch") else "driver/other"


def command_key(command: str) -> str:
    return " ".join(tok for tok in command.split() if "/" not in tok) or command


def table(title: str, counts: collections.Counter, top: int, total: int) -> None:
    print(f"\n{title}")
    for key, n in counts.most_common(top):
        print(f"  {n:7d}  {100.0 * n / max(total, 1):5.1f}%  {key}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    ap.add_argument("--depth", type=int, default=3, help="caller frames per process stack (default 3)")
    args = ap.parse_args()

    samples = events(args.recording, "jdk.ExecutionSample")
    by_thread, by_stage = collections.Counter(), collections.Counter()
    leaves = collections.defaultdict(collections.Counter)
    for e in samples:
        stack = frames(e)
        thread = thread_name(e, "sampledThread")
        kind = stage(stack, thread)
        by_thread[thread] += 1
        by_stage[kind] += 1
        if stack:
            leaves[kind][stack[0]] += 1
    print(f"execution samples: {len(samples)}")
    table("samples by thread", by_thread, args.top, len(samples))
    table("samples by stage", by_stage, args.top, len(samples))
    for kind, _ in by_stage.most_common():
        table(f"top leaf methods, {kind}", leaves[kind], args.top, by_stage[kind])

    starts = events(args.recording, "jdk.ProcessStart")
    by_command, by_stack = collections.Counter(), collections.Counter()
    by_start_thread = collections.Counter()
    for e in starts:
        cmd = command_key(e["values"].get("command") or "?")
        callers = [f for f in frames(e) if not f.startswith(PLUMBING)][:args.depth]
        by_command[cmd] += 1
        by_stack[f"{cmd}  <-  {' <- '.join(callers) or '?'}"] += 1
        by_start_thread[thread_name(e, "eventThread")] += 1
    print(f"\nprocess starts: {len(starts)}")
    table("process starts by thread", by_start_thread, args.top, len(starts))
    table("process starts by command", by_command, args.top, len(starts))
    table("process starts by command and caller", by_stack, args.top, len(starts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
