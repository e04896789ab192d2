#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload graph_loops --seeds 1-10 [--seconds 5] [--trace 0] [--scale 1]

For every metric of the result line, and every `[perfbench] metric`
line, it prints the median, the quartiles and the spread:
(Q3 - Q1) / median, with the quartiles of `statistics.quantiles(n=4)`.
With BENCHMARK.json beside perfbench/, it also prints each end-to-end
metric's bound and the share of that bound the spread takes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", default="1")
    args = ap.parse_args()
    spec = {}
    if os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    seconds = args.seconds or spec.get("run_seconds", 5)
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}

    values, wrong = {}, 0
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", args.trace, "--scale", args.scale],
            cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        result = json.loads(proc.stdout.splitlines()[-1])
        wrong += not result["correct"]
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                          if k in bounds or args.trace == "1" and len(result["metrics"]) < 12),
              flush=True)
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        for line in proc.stdout.splitlines():  # [perfbench] metric "<name>" <value> "<unit>"
            if line.startswith("[perfbench] metric "):
                name, value = line.split()[2:4]
                metrics.setdefault(json.loads(name), float(value))
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)

    print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} {'of bound':>8}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        extra = f" {bound:6.2f} {spread / bound:8.2f}" if bound else ""
        print(f"{k:40} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}{extra}")
    if wrong:
        sys.exit(f"{wrong} run(s) reported correct=false")


if __name__ == "__main__":
    main()
