#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload trend_interactive --seeds 1-10

Runs perfbench/run.py once per seed, untraced, and prints for every
end-to-end metric in BENCHMARK.json its median, its quartile spread
(Q3 - Q1 over the median, Python's statistics.quantiles(n=4)) and that
spread as a share of the metric's bound. Use it to check that a change to
the benchmark keeps every spread well inside its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    values = {m: [] for m in metrics}
    for seed in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            return 1
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t0:.0f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    print(f"{'metric':26} {'median':>12} {'spread':>8} {'bound':>6} {'spread/bound':>12}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med
        bound = metrics[k]["bound"]
        print(f"{k:26} {med:12.5g} {spread:8.3f} {bound:6.2f} {spread / bound:12.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
