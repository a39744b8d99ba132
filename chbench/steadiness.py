#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and print, per end-to-end
metric, the median, the quartiles and the relative spread (interquartile
range / median, quartiles as statistics.quantiles(n=4) gives them), next
to the metric's bound in BENCHMARK.json.

    python3 chbench/steadiness.py [--runs 10] [--first-seed 1000] [--workloads a,b]

Run i of every workload uses seed first_seed + i. Each run's result line
and wall time are also appended to .bench_out/steadiness.jsonl. Exits 1 when a spread
(setup_s excepted) exceeds its bound.
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


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", "steadiness.jsonl")
    worst = 0.0
    for w in a.workloads.split(","):
        vals = {m["name"]: [] for m in metrics}
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: exit {out.returncode}")
            wall = time.monotonic() - t0
            res = json.loads(out.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **res}) + "\n")
            for k in vals:
                vals[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: wall={wall:.0f}s correct={res['correct']} attempted={res['attempted']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()),
                  flush=True)
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for m in metrics:
            v = vals[m["name"]]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
            spread = (q3 - q1) / abs(med) if med else 0.0
            bound = m["bound"]
            if m["name"] != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {m['name']:28} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {bound:>6}")
        print(flush=True)
    print(f"largest spread / bound (setup_s excepted): {worst:.2f}")
    sys.exit(1 if worst > 1 else 0)


if __name__ == "__main__":
    main()
