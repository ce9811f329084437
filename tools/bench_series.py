#!/usr/bin/env python3
"""Summarize a benchmark series.

Two modes:

  bench_series.py run1.json run2.json ... [--threshold 2.0]
      The BENCH_NOTES median table of a multi-run `graft.Bench` series:
      per-key median/min/max over the series for every key whose median
      exceeds the threshold (seconds), plus the totals line and a
      task/GC attribution column from the LAST run's artifact (the
      attribution fields land per-artifact; the last run is the one kept
      as target/bench_last.json).

  bench_series.py --pairs runs.jsonl [--bench BENCHMARK.json]
      A paired perfbench series: one JSON line per run, with `side`
      (`parent` or `change`), `workload`, `seed`, `trace`, `rc`, and the
      run's `facts` and `result` lines as strings (the shape of
      bench/codec_pairs/runs.jsonl). Untraced runs are paired by
      (workload, seed). Per workload and end-to-end metric it prints each
      side's median and quartiles, the change/parent ratio of medians,
      how many pairs the change wins (ties count for neither), and a
      verdict:
        gain             the change wins at least 9/10 of the pairs and
                         its median is better by more than the parent's
                         interquartile distance
        unresolved       the parent's own spread (interquartile distance
                         over median) is wider than the metric's bound,
                         and not every change run beats every parent run
        within bound     the change's median is no worse than the
                         parent's by more than the bound (or, with a
                         spread wider than the bound, every change run
                         beats every parent run)
        worse than bound the change's median is worse by more than that
      Bounds and directions come from BENCHMARK.json's `end_to_end` list.
      It also reports failed runs and whether each seed's output digest
      is equal on both sides.
"""
import argparse
import json
import os
import statistics
import sys


def median_table(paths, thr):
    runs = [json.load(open(p)) for p in paths]
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


def quartiles(vals):
    """(q1, median, q3); a single run is its own quartiles."""
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, wins, pairs, lower, bound):
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    better = cmed < pmed if lower else cmed > pmed
    if better and wins * 10 >= 9 * pairs and abs(cmed - pmed) > pq3 - pq1:
        return "gain"
    if bound is None:
        return "within bound"
    # a spread wider than the bound cannot tell "unchanged" from
    # "worse": only a change that beats the parent in every run passes
    if (pq3 - pq1) / pmed > bound:
        every = all(c < p for c in change for p in parent) if lower \
            else all(c > p for c in change for p in parent)
        return "within bound" if every else "unresolved"
    worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    return "within bound" if worse <= bound else "worse than bound"


def paired(path, bench):
    lines = [json.loads(l) for l in open(path) if l.strip()]
    metrics = {}
    if bench and os.path.isfile(bench):
        for m in json.load(open(bench)).get("end_to_end", []):
            metrics[m["name"]] = (m.get("better", "lower") == "lower", m.get("bound"))

    def parsed(line, key):
        v = line.get(key)
        try:
            return json.loads(v) if isinstance(v, str) else (v or {})
        except ValueError:
            return {}

    runs = {}  # (workload, seed) -> side -> line
    for l in lines:
        if l.get("trace", 0):
            continue
        runs.setdefault((l["workload"], l["seed"]), {})[l["side"]] = l
    for wl in sorted({w for w, _ in runs}):
        seeds = sorted(s for w, s in runs if w == wl)
        both = [s for s in seeds if {"parent", "change"} <= set(runs[(wl, s)])]
        bad = []
        for s in seeds:
            for side, l in sorted(runs[(wl, s)].items()):
                if l.get("rc") != 0 or not parsed(l, "result").get("correct", False):
                    bad.append(f"{side} seed {s} rc={l.get('rc')}")
        print(f"{wl}: {len(both)} pairs, failed runs: {bad or 'none'}")
        names = list(metrics) or sorted(
            parsed(runs[(wl, both[0])]["parent"], "result").get("metrics", {})) if both else []
        for name in names:
            lower, bound = metrics.get(name, (True, None))
            par, chg, wins = [], [], 0
            for s in both:
                p = parsed(runs[(wl, s)]["parent"], "result").get("metrics", {}).get(name)
                c = parsed(runs[(wl, s)]["change"], "result").get("metrics", {}).get(name)
                if p is None or c is None:
                    continue
                par.append(p["value"])
                chg.append(c["value"])
                wins += (c["value"] < p["value"]) if lower else (c["value"] > p["value"])
            if not par:
                continue
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            ratio = cmed / pmed if pmed else float("nan")
            print(f"  {name:<12} parent {pmed:.3f} ({pq1:.3f}-{pq3:.3f})  "
                  f"change {cmed:.3f} ({cq1:.3f}-{cq3:.3f})  ratio {ratio:.3f}  "
                  f"change wins {wins}/{len(par)}  "
                  f"{verdict(par, chg, wins, len(par), lower, bound)}")
        digests = [(s, parsed(runs[(wl, s)]["parent"], "facts").get("output_digest"),
                    parsed(runs[(wl, s)]["change"], "facts").get("output_digest"))
                   for s in both]
        differ = [s for s, a, b in digests if a is None or a != b]
        print(f"  output digests equal per seed: {not differ}"
              + (f" (differ: seeds {differ})" if differ else ""))


def main():
    ap = argparse.ArgumentParser(description="Median table of a bench series, "
                                 "or the paired comparison of a perfbench series.")
    ap.add_argument("runs", nargs="*", help="bench artifact JSON files, oldest first")
    ap.add_argument("--threshold", type=float, default=2.0,
                    help="print only keys whose median exceeds this many seconds")
    ap.add_argument("--pairs", help="perfbench run lines (JSONL) of a paired series")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"),
        help="benchmark declaration with the end-to-end metrics and bounds")
    a = ap.parse_args()
    if a.pairs:
        paired(a.pairs, a.bench)
    elif a.runs:
        median_table(a.runs, a.threshold)
    else:
        ap.error("give bench artifact files, or --pairs runs.jsonl")
    return 0


if __name__ == "__main__":
    sys.exit(main())
