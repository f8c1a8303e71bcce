#!/usr/bin/env python3
"""Counts the processes a JVM started, by command shape, from a JFR
recording's `jdk.ProcessStart` events.

Usage: python3 tools/forkcount.py <recording.jfr> [--top N]

Record with, for example,

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr \\
        python3 perfbench/run.py --workload cdc_upsert --seed 11 --seconds 10 --trace 0

on a tree the benchmark has already built (a run that compiles also
starts sbt's JVM with the same option, which records into the same
file). The shape folds each
argument that holds a `/` to `<path>` and each run of digits to `N`, so
`chmod 0644 /tmp/x/part-00001` and `chmod 0644 /tmp/y/part-00002` count
as one shape. Prints the total, then one `count  shape` line per shape,
most frequent first. Needs the JDK's `jfr` tool on PATH.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def shape(command):
    """The command line with paths and digit runs folded."""
    return " ".join("<path>" if "/" in arg else re.sub(r"\d+", "N", arg)
                    for arg in command.split())


def process_starts(recording):
    """The `command` of every jdk.ProcessStart event in `recording`."""
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    return [e["values"].get("command", "") for e in events]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=0, help="print only the N most frequent shapes")
    args = ap.parse_args()
    counts = collections.Counter(shape(c) for c in process_starts(args.recording))
    print(f"{sum(counts.values())} process starts, {len(counts)} shapes")
    for s, n in counts.most_common(args.top or None):
        print(f"{n:7d}  {s}")


if __name__ == "__main__":
    sys.exit(main())
