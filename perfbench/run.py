"""Runs one benchmark workload in one JVM and passes its result through.

    python3 perfbench/run.py --workload crawl_pack --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first call compiles the engine and the
harness (perfbench/build.py); later calls reuse the classes until a source
changes. The last line of standard output is the result JSON; the exit code is
non-zero when the build fails, a pass fails its check, or the run overruns.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["crawl_dedup", "mr_sim"]
JVM_LIMIT_S = 170  # the JVM's share of the 180 s a run may take


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="run the harness self-checks instead of a workload")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    try:
        jars = build.build()
    except build.BuildError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    work = os.path.join(build.OUT, "work", str(os.getpid()))
    os.makedirs(work)
    # the class data sharing archive, when the build made one; the JVM
    # falls back to loading classes itself if it cannot map it
    cds = ["-XX:SharedArchiveFile=" + build.ARCHIVE] if os.path.isfile(build.ARCHIVE) else []
    cmd = build.java_cmd(jars, work, *cds)
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--trace-file", os.path.join(build.OUT, "traces", "%s-seed%d.json" % (a.workload, a.seed))]
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: run exceeded %d s\n" % JVM_LIMIT_S)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
