#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as the last
line of standard output.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

`--workload all` runs every workload in turn; its last line then maps each
workload to its result.

Builds the program from source first (see build.py). Everything it writes
goes under .bench_build/ in the checkout; the run's scratch directory is
removed at exit. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170  # the Java run, after the build

# Spark on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def load_spec():
    """BENCHMARK.json: the workloads and the metrics each mode must print."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(f"{path} not found")
    with open(path) as fh:
        return json.load(fh)


def run(spec, workload, seed, seconds, trace, classes, jars):
    """One workload in its own JVM; returns its result object."""
    work = os.path.join(build.ROOT, ".bench_build", "work", f"{workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(build.ROOT, ".bench_build", "traces",
                         f"{workload}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    # the heap the program's own forked runs get (build.sbt)
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", f"-Xmx{heap}", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", trace, "--work", work,
            "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    print("\n".join(lines[:-1]), flush=True)
    if proc.returncode != 0:
        fail(f"{workload}: run exited with {proc.returncode}")
    result = json.loads(lines[-1])
    want = {m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    if set(result["metrics"]) != want:
        fail(f"{workload}: metrics differ from BENCHMARK.json: missing "
             f"{sorted(want - set(result['metrics']))}, extra "
             f"{sorted(set(result['metrics']) - want)}")
    return result


def main():
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run still stops its JVM (the `finally` in run)
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if a.workload != "all":
        result = run(spec, a.workload, a.seed, a.seconds, a.trace, classes, jars)
    else:
        result = {w: run(spec, w, a.seed, a.seconds, a.trace, classes, jars)
                  for w in workloads}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
