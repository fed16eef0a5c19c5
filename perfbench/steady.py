#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, for
every end-to-end metric, the median and the interquartile spread as a
share of the median (statistics.quantiles(values, n=4)), against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload kg-lookup --seeds 1-10 --seconds 6
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values, bad = {}, 0
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        line = json.loads(p.stdout.strip().splitlines()[-1])
        ok = line["correct"] and line["failed"] == 0
        bad += not ok
        vals = {k: v["value"] for k, v in line["metrics"].items()}
        for k, v in vals.items():
            values.setdefault(k, []).append(v)
        load = next((x for x in p.stdout.splitlines() if x.startswith("loadavg")), "")
        print(f"seed {seed}: wall {wall:.1f} s correct {ok} " +
              " ".join(f"{k}={v:.4g}" for k, v in vals.items()) + f"\n  {load}", flush=True)
    print(f"{'metric':<14} {'median':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        flag = "" if spread < bounds.get(k, 0) / 3 else "  <-- over bound/3"
        print(f"{k:<14} {med:>12.5g} {spread:>8.4f} {bounds.get(k, 0):>6}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
