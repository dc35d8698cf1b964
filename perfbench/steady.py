#!/usr/bin/env python3
"""Run one workload under several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1 over the median, from
statistics.quantiles(values, n=4)), next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py registry_queries 10 [--trace 0] [--first-seed 1]
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


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("runs", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, walls = {}, []
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct {result['correct']}, "
              f"failed {result['failed']}/{result['attempted']}", file=sys.stderr)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<34} {'n':>3} {'median':>14} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        s = spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k)
        print(f"{k:<34} {len(vs):>3} {statistics.median(vs):>14.4f} {s:>8.4f} "
              f"{b if b is not None else '':>6}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
