#!/usr/bin/env python3
"""Runs one workload with several seeds and reports, for each end-to-end
metric, its median, quartiles and quartile spread (Q3 - Q1) as a share of
the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload crawl --seeds 1-10 --seconds 15

Runs are sequential; each one's full output goes to
.bench_build/spread/<workload>-seed<n>.txt.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    logs = os.path.join(ROOT, ".bench_build", "spread")
    os.makedirs(logs, exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
            capture_output=True, text=True, cwd=ROOT)
        with open(os.path.join(logs, f"{a.workload}-seed{s}.txt"), "w") as fh:
            fh.write(r.stdout + "\n--- stderr ---\n" + r.stderr)
        if r.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {r.returncode}")
        res = json.loads(r.stdout.strip().split("\n")[-1])
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k}: median {med:.6g}  Q1 {q1:.6g}  Q3 {q3:.6g}  "
              f"spread {(q3 - q1) / med:.4f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
