#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) into one class directory.

The Scala compiler is the one shipped in the Spark distribution under
$SPARK_HOME/jars, so the build needs no dependency resolution and writes
nothing outside the checkout. A stamp over every source file skips the
compile when nothing changed.

Usage (from the root of a checkout):  python3 perfbench/build.py
Prints the class directory on success.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no jars under $SPARK_HOME/jars")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(
            f"perfbench: {PROGRAM_SRC} not found; run from the root of a "
            "checkout of the program")
    out = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    want = stamp(srcs, jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("perfbench: Scala compiler jars missing from $SPARK_HOME/jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(build())
