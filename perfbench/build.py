#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench/<hash>/classes with the Scala compiler that ships in
Spark's jar directory. A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the first jars directory beside a spark-submit
    on PATH that holds the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
            return jars
    raise BuildError("no Spark jars with scala-compiler 2.13.17: set SPARK_HOME")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found: {PROGRAM_SRC}")
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    """Returns (classes dir, Spark jar dir), compiling when needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "ok")):
        return classes, jars
    tmp = classes + ".tmp"
    for d in (tmp, classes):  # left by an interrupted build
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", cp,
         "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    os.rename(tmp, classes)
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
