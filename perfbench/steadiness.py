#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize its spread.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/baseline/steadiness.json

For every workload in BENCHMARK.json, runs ``perfbench/run.py`` once per
seed (untraced), then reports each end-to-end metric's values, median and
quartile spread (Q3 - Q1) / median, next to the metric's bound.  With
``--traced N`` it also makes N traced runs per workload (seeds from the
first one on) and stores their per-layer metrics.  Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIRST_SEED = 100


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["run_s"] = time.perf_counter() - t0
    return out


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        seeds = [FIRST_SEED + i for i in range(args.runs)]
        runs = [run_once(w, s, bench["run_seconds"], 0) for s in seeds]
        metrics = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            metrics[name] = {"values": vals, "median": statistics.median(vals),
                             "spread": spread(vals), "bound": bounds[name]}
        entry = {"seeds": seeds,
                 "failed": sum(r["failed"] for r in runs),
                 "attempted": sum(r["attempted"] for r in runs),
                 "run_s": [round(r["run_s"], 1) for r in runs],
                 "metrics": metrics}
        traced = [run_once(w, s, bench["run_seconds"], 1)
                  for s in seeds[:args.traced]]
        if traced:
            entry["traced"] = [{k: v["value"] for k, v in t["metrics"].items()}
                               for t in traced]
            entry["traced_failed"] = sum(t["failed"] for t in traced)
            entry["traced_run_s"] = [round(t["run_s"], 1) for t in traced]
        report["workloads"][w] = entry
        for name, m in metrics.items():
            print(f"{w:14s} {name:16s} median {m['median']:10.4g}  "
                  f"spread {m['spread']:.4f}  bound {m['bound']}",
                  file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
