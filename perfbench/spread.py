#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile as a share of the
median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload serve_point --seeds 1 2 3 4 5

Each run's full output is kept in .bench_build/spread/ for later reading.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    out_dir = os.path.join(ROOT, ".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values = {}
    for seed in a.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        with open(os.path.join(out_dir, "%s-%d.out" % (a.workload, seed)), "w") as fh:
            fh.write(proc.stdout)
        if proc.returncode != 0:
            print("seed %d: exit code %d" % (seed, proc.returncode))
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s attempted=%d failed=%d" % (
            seed, result["correct"], result["attempted"], result["failed"]))
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    print("%-16s %12s %8s %8s" % ("metric", "median", "spread", "bound"))
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread <= m["bound"] / 3 else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
        print("%-16s %12.4f %8.4f %8.2f%s" % (m["name"], med, spread, m["bound"], flag))


if __name__ == "__main__":
    main()
