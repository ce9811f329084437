#!/usr/bin/env python3
"""Summarize a multi-run bench series into the BENCH_NOTES median table.

Usage: bench_series.py run1.json run2.json ... [--threshold 2.0]

Prints per-key median/min/max over the series for every key whose
median exceeds the threshold (seconds), plus the totals line and a
task/GC attribution column from the LAST run's artifact (the
attribution fields land per-artifact; the last run is the one kept
as target/bench_last.json)."""
import argparse, json, statistics

ap = argparse.ArgumentParser(description="Median table of a bench series.")
ap.add_argument("runs", nargs="+", help="bench artifact JSON files, oldest first")
ap.add_argument("--threshold", type=float, default=2.0,
                help="print only keys whose median exceeds this many seconds")
args = ap.parse_args()
thr = args.threshold

runs = [json.load(open(p)) for p in args.runs]
totals = [r["value"] for r in runs]
keys = sorted(runs[0]["queries"].keys())
last = runs[-1]

print(f"series: {len(runs)} runs, totals "
      + "/".join(f"{t:.1f}" for t in sorted(totals))
      + f" s, median {statistics.median(totals):.1f} s")
print()
print("| query | median | min | max | task_ms (last) | gc_ms (last) |")
print("|---|---|---|---|---|---|")
for k in keys:
    vals = [r["queries"][k] for r in runs]
    med = statistics.median(vals)
    if med < thr:
        continue
    task = last.get("task_ms", {}).get(k, "-")
    gc = last.get("gc_ms", {}).get(k, "-")
    print(f"| {k} | {med:.2f} | {min(vals):.2f} | {max(vals):.2f} "
          f"| {task} | {gc} |")
