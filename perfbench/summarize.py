#!/usr/bin/env python3
"""Per-layer self time of a traced benchmark run.

    python3 perfbench/summarize.py perfbench/out/<traced run>

Reads the run's spans.json and summary.json. For each span name it prints
the count, the summed span time, the summed self time (span time minus
the part its child spans cover) and the per-layer metric the span feeds,
all as the run recorded them. Then it prints the run's per-layer metrics
and its tracing overhead: the traced end-to-end numbers minus those of the
latest untraced run of the same workload, seed and sources.
"""
import json
import os
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    run = sys.argv[1]
    spans = json.load(open(os.path.join(run, "spans.json")))
    summary = json.load(open(os.path.join(run, "summary.json")))
    ctx = summary["context"]
    print(f"{ctx['workload']} seed {ctx['seed']}: {len(spans)} spans")
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0, s["metric"]])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += s["self"]
    print(f"{'span':24s} {'n':>6s} {'total ms':>11s} {'self ms':>11s}  metric")
    for name, (n, tot, own, metric) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:24s} {n:6d} {tot:11.1f} {own:11.1f}  {metric}")
    print("\nper-layer metrics:")
    for k, v in summary["layer"].items():
        print(f"  {k:36s} {v['value']:16.3f} {v['unit']}")
    over = summary["info"].get("tracing_overhead")
    if not over:
        print("\ntracing overhead: no untraced run of this workload, seed and sources")
        return
    print("\ntracing overhead (traced - untraced):")
    for k, v in over.items():
        print(f"  {k:20s} {v['traced']:12.3f} - {v['untraced']:12.3f} = {v['delta']:+12.3f}"
              f" {v['unit']} ({v['delta'] / v['untraced']:+.1%})")


if __name__ == "__main__":
    main()
