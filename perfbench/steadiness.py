"""Steadiness record for the benchmark: runs every workload over a set of
seeds and summarizes each end-to-end metric as median and quartiles, the
spread (Q3 - Q1) / median, and the comparison of two sets' medians.

    python3 perfbench/steadiness.py run A --seeds 1-10      # one set of runs
    python3 perfbench/steadiness.py run B --seeds 1-10      # a second set
    python3 perfbench/steadiness.py summary A B             # table + verdict

Run from the root of a checkout. Each set is appended to
perfbench/steadiness/<set>.jsonl; `summary` writes perfbench/steadiness/summary.md
and exits non-zero if a spread or a median shift exceeds its bound from
BENCHMARK.json (setup_s is held to the median shift only).
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "steadiness")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(name, seed_list):
    b = bench()
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, name + ".jsonl")
    for w in [x["name"] for x in b["workloads"]]:
        for s in seed_list:
            t0 = time.time()
            r = subprocess.run(b["command"] + ["--workload", w, "--seed", str(s),
                               "--seconds", str(b["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            lines = r.stdout.decode().strip().splitlines()
            rec = {"workload": w, "seed": s, "exit": r.returncode,
                   "run_s": round(time.time() - t0, 1),
                   "info": json.loads(lines[-2]) if len(lines) > 1 else None,
                   "result": json.loads(lines[-1]) if lines else None}
            with open(path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print("%s %s seed %d exit %d %.0f s" % (name, w, s, r.returncode, rec["run_s"]))


def load(name):
    with open(os.path.join(OUT, name + ".jsonl")) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def stats(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return statistics.median(vals), q1, q3, (q3 - q1) / statistics.median(vals)


def box():
    mem = 0
    with open("/proc/meminfo") as fh:
        for l in fh:
            if l.startswith("MemTotal:"):
                mem = int(l.split()[1]) / 2 ** 20
    return "%d cores, %.0f GB memory, %s" % (os.cpu_count(), mem, platform.platform())


def summary(names):
    b = bench()
    sets = {n: load(n) for n in names}
    heaps = sorted({r["info"]["heap_mb"] for n in names for r in sets[n] if r["info"]})
    out = ["# Steadiness record", "",
           "Box: %s; JVM heap %s MB." % (box(), "/".join(str(h) for h in heaps)), ""]
    bad = []
    for w in [x["name"] for x in b["workloads"]]:
        out += ["## " + w, "",
                "| metric | bound | " + " | ".join("%s median [Q1, Q3] spread (n)" % n for n in names)
                + " | median shift |",
                "|---|---|" + "---|" * len(names) + "---|"]
        for m in b["end_to_end"]:
            cells, meds = [], []
            for n in names:
                rs = [r for r in sets[n] if r["workload"] == w and r["result"]]
                if any(not r["result"]["correct"] or r["exit"] != 0 for r in rs):
                    bad.append("%s %s: a run failed its check" % (n, w))
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                cells.append("%.4g [%.4g, %.4g] %.3f (%d)" % (med, q1, q3, spread, len(vals)))
                if m["name"] != "setup_s" and spread > m["bound"]:
                    bad.append("%s %s %s: spread %.3f > bound %g" % (n, w, m["name"], spread, m["bound"]))
            shift = ""
            if len(meds) > 1:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                shift = "%+.3f" % worse
                if worse > m["bound"]:
                    bad.append("%s %s: second median worse by %.3f > bound %g" % (w, m["name"], worse, m["bound"]))
            out.append("| %s (%s) | %g | %s | %s |" % (m["name"], m["unit"], m["bound"], " | ".join(cells), shift))
        out.append("")
    out += ["Verdict: " + ("steady" if not bad else "NOT steady"), ""] + ["- " + x for x in bad]
    text = "\n".join(out) + "\n"
    with open(os.path.join(OUT, "summary.md"), "w") as fh:
        fh.write(text)
    print(text)
    return 0 if not bad else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("name")
    r.add_argument("--seeds", default="1-10")
    s = sub.add_parser("summary")
    s.add_argument("names", nargs="+")
    a = ap.parse_args()
    if a.cmd == "run":
        run_set(a.name, seeds(a.seeds))
        return 0
    return summary(a.names)


if __name__ == "__main__":
    sys.exit(main())
