#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload's input is generated from
``--seed`` and written as parquet under ``.perfbench_work/``; the engine
reads only that parquet.  Load is a closed loop: this one Spark driver process
submits one Spark job at a time at ``local[4]`` and starts the next when
it returns.  After measuring, the outputs are checked, and the last line
printed is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced suite and reports the per-layer metrics instead, writing its spans
to ``.perfbench_trace/<workload>-<seed>.json``.  BENCHMARK.json lists both
sets with their units.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_trace")
SLOTS = 4
MIN_JOBS = 3            # timed jobs per run, however long each takes

UNITS = {
    "rows_per_s": "rows/s", "setup_s": "s", "cpu_s_per_krow": "cpu-s/krow",
    "worker_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- end-to-end run ----------------------------------------------------------

def setup_and_measure(job, seconds: float, warmup_jobs: int, tracer):
    """Set up once from nothing, as a one-shot spark-submit does: launch
    the JVM, start the session and run one cold job.  Then run
    ``warmup_jobs`` untimed jobs and time jobs back to back for
    ``seconds`` (at least MIN_JOBS).  Returns the session and the per-job
    measurements."""
    import harness

    with tracer.span("setup"):
        t0 = time.perf_counter()
        spark = harness.start_spark(SLOTS)
        t1 = time.perf_counter()
        job(spark)
        setup = (t1 - t0, time.perf_counter() - t1)
    with tracer.span("warmup"):
        for _ in range(warmup_jobs):
            job(spark)
    pid = harness.jvm_pid()
    walls, cpus = [], []
    with harness.RssSampler(pid) as rss, tracer.span("timed"):
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(walls) < MIN_JOBS:
            c0 = harness.tree_cpu_s(pid)
            t0 = time.perf_counter()
            with tracer.span("job"):
                job(spark)
            walls.append(time.perf_counter() - t0)
            cpus.append(harness.tree_cpu_s(pid) - c0)
    return spark, {"setup": setup, "walls": walls, "cpus": cpus,
                   "rss_peak": rss.peak}


def end_to_end(m: dict, rows: int) -> dict:
    from statistics import median
    return {
        "rows_per_s": rows / median(m["walls"]),
        "setup_s": sum(m["setup"]),
        "cpu_s_per_krow": median(m["cpus"]) * 1000 / rows,
        "worker_rss_mb": m["rss_peak"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import checks
    import harness
    import workloads
    from jobs import run_extraction

    spec = workloads.SPECS[workload]
    tracer = harness.Tracer(f"{workload}-{seed}") if trace \
        else harness.NullTracer()
    with tracer.span("generate"):
        inp = workloads.write_input(workload, seed,
                                    os.path.join(WORK, "input"))
    in_path, rows = inp["path"], inp["rows"]
    out_path = os.path.join(WORK, "out")

    def job(spark):
        run_extraction(spark, in_path, out_path)

    spark, m = setup_and_measure(job, seconds, spec["warmup_jobs"], tracer)
    with tracer.span("check"):
        checked, failed, detail = checks.check_extraction(
            out_path, inp["cols"], seed)
    print(f"{workload} seed={seed}: job walls "
          f"{[round(x, 2) for x in m['walls']]} s; check: {detail}",
          file=sys.stderr)

    if trace:
        import traced
        metrics = traced.per_layer(spark, workload, seed, inp, m, tracer,
                                   WORK)
        checked += metrics.pop("_checked")
        failed += metrics.pop("_failed")
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.write(os.path.join(TRACE_DIR, f"{workload}-{seed}.json"))
        units = traced.UNITS
    else:
        metrics = end_to_end(m, rows)
        units = UNITS
    return {"correct": failed == 0, "attempted": checked, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xponents_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import workloads
    if args.workload not in workloads.SPECS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.SPECS)}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    harness.configure_env(ROOT, WORK)
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace))
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
