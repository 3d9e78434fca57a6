#!/usr/bin/env python3
"""Runs one workload over several seeds and prints, per metric, the
median and the interquartile spread as a share of the median — the
figure the bounds in BENCHMARK.json are set against.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--seconds 12] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s failed=%d %s" % (
            seed, res["correct"], res["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print("%-20s median %.4g  iqr/median %.3f" % (k, med, (q3 - q1) / med if med else 0.0))


if __name__ == "__main__":
    main()
