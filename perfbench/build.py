"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in Spark's jar directory (the same jar directory
build.sbt compiles against), packs the classes into one jar, and runs the
harness self-check once with -XX:ArchiveClassesAtExit. That writes a class
data sharing archive of every class the self-check loaded (Spark's, the
engine's and the harness's), which the benchmark JVMs map at start instead of
loading and verifying those classes again. A failing self-check fails the
build.

The output goes to .bench_build/perfbench/ under the checkout root
(perfbench.jar, classes.jsa) and is reused while a hash of every source file
and of the jar directory listing is unchanged.

    python3 perfbench/build.py        # build (or reuse) and print the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    if not any(f.startswith("scala-compiler-") for f in os.listdir(jars)):
        raise BuildError("no scala-compiler jar in %s" % jars)
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("engine sources not found: %s" % SOURCE_DIRS[0])
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")

# What spark-submit would inject for Spark 4 on JDK 17 (build.sbt keeps
# the same list for sbt-forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Fixed (-Xms = -Xmx) and touched at start (-XX:+AlwaysPreTouch): a growing
# heap would cost the passes GC time that depends on the resize policy, and
# a heap touched as the run goes made the peak resident set read 2.5 or
# 3.3 GB by chance.
HEAP = "3g"


def java_cmd(jars, work, *jvm_flags):
    """The harness JVM: fixed heap, G1, JVM warnings to stderr (standard
    output is the result), no perf-data file, temp files under `work`."""
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr", "-Djava.io.tmpdir=" + work] + list(jvm_flags)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"),
                  "graft.perfbench.Main", "--work", work]


def build():
    """Compile, pack and archive if the sources changed; returns the jar
    directory."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(JAR) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return jars
    os.makedirs(OUT, exist_ok=True)
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(OUT, "classes.tmp.%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.%d.txt" % os.getpid())
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise BuildError("scalac failed with code %d" % r.returncode)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(OUT, "work", "build-%d" % os.getpid())
    os.makedirs(work)
    try:
        r = subprocess.run(java_cmd(jars, work, "-XX:ArchiveClassesAtExit=" + ARCHIVE) + ["--selfcheck"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("harness self-check overran 600 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise BuildError("harness self-check failed with code %d" % r.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return jars


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
