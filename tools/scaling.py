#!/usr/bin/env python
"""The production extraction job at 1 and 4 slots, beside its kernel in 1
and 4 plain processes.

    SPARK_GRAFT_SF_DIR=<scale dir> python tools/scaling.py [--rounds 3] [--turns 40000]

Writes one transcript input, once: ``sources.synthesize_transcripts`` over
``$SPARK_GRAFT_SF_DIR/documents.parquet``, with enough turns per document
to reach ``--turns``.  Then runs ``--rounds`` interleaved rounds.  Each
round has two sides, and their order alternates from round to round:

* engine: perfbench's production job (``jobs.run_extraction``: read,
  salted repartition to two tasks per slot, extract, per-partition sort,
  parquet write) in a fresh ``local[1]`` and a fresh ``local[4]`` JVM.
  Each JVM runs one untimed job, which starts its Python workers and opens
  the reference tables, then one timed job.  The 1-slot and 4-slot outputs
  must be equal row for row;
* kernel: ``pipeline.extract_turn`` over the same turns, split over 1 and
  over 4 spawned processes, each warmed on a few turns before the clock
  starts.

Efficiency on both sides is ``wall1 / (4 * wall4)``, perfbench's
``pipeline.parallel_eff``.  The kernel's is the ceiling the host allows
the engine.  Engine CPU-s is the JVM and every process under it; kernel
CPU-s is the summed CPU of the timed loops.  Prints one JSON line.  Size
``--turns`` so that the 1-slot job runs for at least 10 s: each parquet
write job carries a fixed cost of ~0.6 CPU-s.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

SLOTS = (1, 4)
WARM_TURNS = 50       # per kernel process, before the clock starts
KERNEL_TIMEOUT_S = 900


def write_input(sf_dir: str, turns: int, path: str) -> int:
    """Synthesized transcripts, at least ``turns`` of them, as 8 files."""
    import harness
    from xponents_spark.sources import synthesize_transcripts
    spark = harness.start_spark(4)
    try:
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        per_doc = max(1, -(-turns // n_docs))
        (synthesize_transcripts(spark, sf_dir, turns_per_doc=per_doc)
         .repartition(8).write.mode("overwrite").parquet(path))
    finally:
        harness.shutdown_jvm()
    return n_docs * per_doc


def output_digest(path: str) -> tuple[int, str]:
    """Row count and a hash of the output's rows in key order."""
    from checks import read_output
    out = read_output(path)
    rows = sorted(zip(out["conv_id"], out["turn_idx"], out["main_text"],
                      out["matches"]), key=lambda r: (r[0], r[1]))
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def engine_run(in_path: str, out_path: str, slots: int) -> tuple[float, float]:
    """Wall and CPU seconds of the warm production job at ``slots``."""
    import harness
    from jobs import run_extraction
    spark = harness.start_spark(slots)
    try:
        run_extraction(spark, in_path, out_path, slots)
        pid = harness.jvm_pid()
        c0 = harness.tree_cpu_s(pid)
        t0 = time.perf_counter()
        run_extraction(spark, in_path, out_path, slots)
        wall = time.perf_counter() - t0
        return wall, harness.tree_cpu_s(pid) - c0
    finally:
        harness.shutdown_jvm()


def _kernel_worker(texts, ready, start, done):
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
    for t in texts[:WARM_TURNS]:
        extract_turn(t, DEFAULT_FEATURES)
    ready.put(None)
    start.wait()
    c0 = time.process_time()
    for t in texts:
        extract_turn(t, DEFAULT_FEATURES)
    done.put(time.process_time() - c0)


def kernel_run(texts: list[str], k: int) -> tuple[float, float]:
    """Wall and summed CPU seconds of ``extract_turn`` over ``texts``
    split over ``k`` spawned processes."""
    ctx = mp.get_context("spawn")
    ready, done, start = ctx.Queue(), ctx.Queue(), ctx.Event()
    procs = [ctx.Process(target=_kernel_worker,
                         args=(texts[i::k], ready, start, done))
             for i in range(k)]
    for p in procs:
        p.start()
    try:
        # a worker that dies before reporting raises queue.Empty here
        for _ in procs:
            ready.get(timeout=KERNEL_TIMEOUT_S)
        t0 = time.perf_counter()
        start.set()
        cpu = sum(done.get(timeout=KERNEL_TIMEOUT_S) for _ in procs)
        return time.perf_counter() - t0, cpu
    finally:
        for p in procs:
            p.join(timeout=60)
            if p.is_alive():
                p.kill()
                p.join()


def summary(walls: dict, cpus: dict, rows: int) -> dict:
    eff = [w1 / (4 * w4) for w1, w4 in zip(walls[1], walls[4])]
    return {"wall_s": {k: [round(w, 3) for w in v] for k, v in walls.items()},
            "rows_per_s": {k: [round(rows / w, 1) for w in v]
                           for k, v in walls.items()},
            "cpu_s": {k: [round(c, 3) for c in v] for k, v in cpus.items()},
            "eff": [round(e, 3) for e in eff],
            "eff_median": round(statistics.median(eff), 3),
            "eff_range": [round(min(eff), 3), round(max(eff), 3)]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--turns", type=int, default=40_000)
    args = p.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        p.error("set SPARK_GRAFT_SF_DIR to a scale directory that holds "
                "documents.parquet")

    import harness
    import pyarrow.parquet as pq
    work = tempfile.mkdtemp(prefix="scaling_")
    try:
        harness.configure_env(REPO, work)
        in_path = os.path.join(work, "input")
        outs = {k: os.path.join(work, f"out_{k}") for k in SLOTS}
        rows = write_input(sf_dir, args.turns, in_path)
        texts = pq.read_table(in_path, columns=["text"]).column(
            "text").to_pylist()
        runs = {"engine": lambda k: engine_run(in_path, outs[k], k),
                "kernel": lambda k: kernel_run(texts, k)}
        walls = {side: {k: [] for k in SLOTS} for side in runs}
        cpus = {side: {k: [] for k in SLOTS} for side in runs}
        digests = set()
        for r in range(args.rounds):
            order = SLOTS if r % 2 == 0 else SLOTS[::-1]
            for side, run in runs.items():
                for k in order:
                    w, c = run(k)
                    walls[side][k].append(w)
                    cpus[side][k].append(c)
            digests.update(output_digest(outs[k]) for k in SLOTS)
            print(f"round {r}: " + ", ".join(
                f"{side} {[round(walls[side][k][-1], 2) for k in SLOTS]} s"
                for side in runs), file=sys.stderr)
        res = {side: summary(walls[side], cpus[side], rows) for side in runs}
        if statistics.median(walls["engine"][1]) < 10:
            print("1-slot job under 10 s: raise --turns", file=sys.stderr)
        n_out, digest = digests.pop() if len(digests) == 1 else (0, None)
        print(json.dumps({
            "sf_dir": sf_dir, "turns": rows, "rounds": args.rounds,
            "host_cpus": os.cpu_count(),
            "outputs_equal": n_out == rows,
            "output_sha256": digest, **res,
            "eff_vs_ceiling": round(res["engine"]["eff_median"]
                                    / res["kernel"]["eff_median"], 3)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
