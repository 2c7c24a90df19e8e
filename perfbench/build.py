#!/usr/bin/env python3
"""Builds the benchmark from source: the engine (src/main/scala) plus the
benchmark's own Scala (perfbench/src), compiled with the Scala compiler that
ships in the Spark distribution's jars. Output goes to
.bench_build/perfbench/classes; a stamp of the sources skips a rebuild
when nothing changed.

    python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution whose bin/ directory is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark distribution with a Scala compiler in its jars; set SPARK_HOME")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        sys.exit(f"perfbench: engine sources not found at {SOURCE_DIRS[0]}")
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath, source stamp), compiling first if needed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "stamp")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if have != want:
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            shutil.rmtree(CLASSES, ignore_errors=True)
            os.makedirs(CLASSES)
            argfile = os.path.join(OUT, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(files) + "\n")
            print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
            subprocess.run(
                ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
                 "@" + argfile],
                check=True, stdout=sys.stderr)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return CLASSES + os.pathsep + os.path.join(jars, "*"), want


if __name__ == "__main__":
    build()
