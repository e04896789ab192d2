#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark between two checkouts.

    python3 tools/abpairs.py <parent-checkout> <change-checkout> --workload W --seeds A-B
        [--seconds S] [--trace 0|1] [--scale X] [--json out.json]

For every seed it runs `perfbench/run.py` once in each checkout, one
after the other, and alternates which side goes first (even seeds run
the parent first, odd seeds the change), because `setup_s` favours
whichever side of a pair runs second. It prints each pair's end-to-end
metrics (those BENCHMARK.json names, by default `setup_s`, `wall_s`,
`peak_rss_mb`), and per metric the medians, the quartiles of each side
(`statistics.quantiles(n=4)`), the wins (pairs where the change is
better), the median gain, and whether that gain exceeds the parent's
quartile spread Q3 - Q1, the rule a claimed gain must meet. A run that
fails or reports `correct: false`, and a pair whose output digests
differ, is listed and makes the exit status 1.

Build each checkout once before timing (a first run that builds is
timed by its own limit, not the run's), and run nothing else heavy on
the machine meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, args, seed):
    """One benchmark run in `checkout`: its result line, or None on failure."""
    proc = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", args.workload,
         "--seed", str(seed), "--seconds", str(args.seconds), "--trace", args.trace,
         "--scale", args.scale],
        cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        print(f"  {checkout} seed {seed}: exit {proc.returncode}: {proc.stderr.strip()[-300:]}",
              file=sys.stderr)
        return None
    lines = proc.stdout.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"  {checkout} seed {seed}: no result line", file=sys.stderr)
        return None
    stamps = [json.loads(l[len("[perfbench] run "):]) for l in lines
              if l.startswith("[perfbench] run {")]
    result["output_digest"] = stamps[-1].get("output_digest") if stamps else None
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 6-15 or 3,5,8")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", default="1")
    ap.add_argument("--json", help="also write every pair and the summary here")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    spec = {}
    bench_json = os.path.join(sides["change"], "BENCHMARK.json")
    if os.path.isfile(bench_json):
        with open(bench_json) as fh:
            spec = json.load(fh)
    args.seconds = args.seconds or spec.get("run_seconds", 3)
    metrics = {m["name"]: m.get("better", "lower") for m in spec.get("end_to_end", [])} or \
        {"setup_s": "lower", "wall_s": "lower", "peak_rss_mb": "lower"}

    pairs, bad = [], []
    for seed in seeds(args.seeds):
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        t0 = time.monotonic()
        got = {side: run(sides[side], args, seed) for side in order}
        for side, res in got.items():
            if res is None or not res.get("correct", False):
                bad.append((seed, side))
        if any(res is None for res in got.values()):
            continue
        digests = {side: got[side]["output_digest"] for side in got}
        if digests["parent"] != digests["change"]:
            bad.append((seed, "digests differ"))
        vals = {side: {m: got[side]["metrics"][m]["value"] for m in metrics
                       if m in got[side]["metrics"]} for side in got}
        pairs.append({"seed": seed, "first": order[0], **vals})
        print(f"seed {seed} ({order[0]} first, {time.monotonic() - t0:.0f} s, digests "
              f"{'equal' if digests['parent'] == digests['change'] else 'DIFFER'}): " + "  ".join(
            f"{m} {vals['parent'].get(m, float('nan')):.4g} -> {vals['change'].get(m, float('nan')):.4g}"
            for m in metrics), flush=True)

    summary = {}
    for m, better in metrics.items():
        ps = [p for p in pairs if m in p["parent"] and m in p["change"]]
        if not ps:
            continue
        a = [p["parent"][m] for p in ps]
        b = [p["change"][m] for p in ps]
        sign = 1 if better == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        gain = sign * (ma - mb)
        iqr = qa[1] - qa[0]
        summary[m] = {"pairs": len(ps), "parent_median": ma, "change_median": mb,
                      "parent_q1_q3": qa, "change_q1_q3": qb, "wins": wins,
                      "gain": gain, "gain_frac": gain / ma if ma else 0.0,
                      "parent_iqr": iqr, "gain_exceeds_iqr": gain > iqr}
        print(f"{m}: median {ma:.4g} -> {mb:.4g} ({-sign * gain / ma * 100 if ma else 0:+.1f} %), "
              f"quartiles parent [{qa[0]:.4g}, {qa[1]:.4g}] change [{qb[0]:.4g}, {qb[1]:.4g}], "
              f"change better in {wins}/{len(ps)} pairs, "
              f"gain {'exceeds' if gain > iqr else 'does not exceed'} the parent's spread {iqr:.4g}")
    if bad:
        print("failed, incorrect or differing: " + ", ".join(f"seed {s} {what}" for s, what in bad))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "pairs": pairs, "summary": summary,
                       "failed": bad}, fh, indent=1)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
