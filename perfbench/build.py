#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark jar directory ($SPARK_HOME/jars), into .bench_build/perfbench/classes.

    python3 perfbench/build.py

Skips the compile when the sources are unchanged since the last build.
Exits non-zero when the program sources are missing or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jar directory of the Spark install: $SPARK_HOME/jars, or the one
    beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


SPARK_JARS = spark_jars()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return prog, bench


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    prog, bench = sources()
    if not prog:
        print("perfbench: no program sources under src/main/scala", file=sys.stderr)
        return 2
    if not os.path.isdir(SPARK_JARS):
        print(f"perfbench: Spark jars not found at {SPARK_JARS}", file=sys.stderr)
        return 2
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return 0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(prog + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-d", CLASSES, "-classpath", classpath(), "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        print("perfbench: compile failed", file=sys.stderr)
        return 2
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(build())
