#!/usr/bin/env python
"""Benchmark harness.

Prints ONE JSON line:
  {"metric": "turns_per_sec_extraction", "value": N, "unit": "sec", ...,
   "queries": {q: sec}, "sf": ...}

Headline metric: end-to-end extraction throughput (read -> salted
repartition -> mapInPandas extraction -> ordered parquet write) in
turns/sec over transcripts synthesized from $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), replicated to ~100k turns.

Env:
  SPARK_GRAFT_SF_DIR   input scale dir            (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism        (default 32)
  BENCH_SCALING=1      also run a quick local[2]-vs-local[8] scaling check
                       (writes the numbers into the JSON as "scaling"; on a
                       host with fewer than 8 cores the local[8] side is
                       oversubscribed.  tools/scaling.py is the 1 -> 4-slot
                       scaling evidence)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TARGET_TURNS = int(os.environ.get("BENCH_TURNS", "100000"))


def _spark(cpus: int) -> SparkSession:
    from xponents_spark.session import get_spark
    active = SparkSession.getActiveSession()
    if active:
        active.stop()
        # new JVM-side context requires a fresh builder
        SparkSession.builder._options = {}
    s = get_spark(app=f"bench-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _n_docs(spark) -> int:
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").count()


# the flagship output projection (same as __spark_entry__.entry): the raw
# `text` column is consumed by extraction and not re-emitted — writing it
# would double the string volume through Arrow + parquet for no consumer
OUT_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "main_text", "matches"]


def _out_dir() -> str:
    # tmpfs when available: the bench measures the engine, not one local
    # disk's write contention (a real cluster writes to distributed storage
    # whose aggregate bandwidth scales with executors)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="bench_out_", dir=base)


def bench_extraction(spark, turns_per_doc: int, runs: int = 1,
                     partitions: int | None = None) -> tuple[float, int]:
    """Full pipeline incl. ordered write; returns (best seconds, turns)."""
    from xponents_spark.pipeline import extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import synthesize_transcripts

    out_dir = _out_dir()
    par = spark.sparkContext.defaultParallelism
    try:
        t = synthesize_transcripts(spark, SF_DIR, turns_per_doc=turns_per_doc)
        t = salted_repartition(t, partitions or max(par * 2, 8)).cache()
        n = t.count()
        # warm-up: TWO full untimed runs of the exact timed plan.  A sampled
        # warm-up is not enough — the first full-scale pass pays python-worker
        # forks + pandas/pattern-compile AND the JVM JIT of the Arrow
        # serializer + parquet writer paths (measured 18.5s -> 12s -> 6s ->
        # 5.5s on identical cached input); steady state is what a long-running
        # cluster job sees after its first task wave, so that is what we report
        def run_once():
            out = extract(t).select(*OUT_COLS)
            # write parallelism scales with cores; files are locally ordered
            # by (conv_id, turn_idx) — global order is a read-side sort, per
            # the stable-ordering verify contract (plans.ordered_output)
            (out.sortWithinPartitions("conv_id", "turn_idx")
                .write.mode("overwrite").parquet(out_dir))

        run_once()
        run_once()
        best = float("inf")
        for _ in range(max(runs, 2)):
            t0 = time.time()
            run_once()
            best = min(best, time.time() - t0)
        t.unpersist()
        return best, n
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def bench_extraction_disk(spark, turns_per_doc: int) -> float:
    """One warm timed run writing to DISK (not tmpfs) — the honest
    local-storage counterpart to the tmpfs headline (a cluster writes to
    distributed storage; a laptop writes here).  Reported alongside the
    headline as ``extract_write_disk_sec``."""
    from xponents_spark.pipeline import extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import synthesize_transcripts

    out_dir = tempfile.mkdtemp(prefix="bench_disk_")   # /tmp: disk-backed
    par = spark.sparkContext.defaultParallelism
    try:
        t = synthesize_transcripts(spark, SF_DIR, turns_per_doc=turns_per_doc)
        t = salted_repartition(t, max(par * 2, 8)).cache()
        t.count()

        def run_once():
            (extract(t).select(*OUT_COLS)
                .sortWithinPartitions("conv_id", "turn_idx")
                .write.mode("overwrite").parquet(out_dir))

        run_once()          # warm (python workers are already warm; this
        t0 = time.time()    # warms the disk-path writer)
        run_once()
        dt = time.time() - t0
        t.unpersist()
        return dt
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def bench_extraction_prebucketed(spark, turns_per_doc: int) -> dict:
    """The zero-shuffle flagship path: input materialized ONCE (untimed) as
    a conv_id-bucketed parquet table (plans.write_bucketed — the stand-in
    for the north rule's Iceberg bucket(conv_id) layout), then the timed
    job is scan -> MapInPandas -> sortWithinPartitions -> write with ZERO
    Exchange (plan shape pinned by test_prebucketed_plan_has_no_exchange).
    Both variants read the SAME bucketed parquet source (apples-to-apples:
    the headline path benches from a .cache()d synth, so it is not the
    right control) — the delta is the measured cost of the salting
    exchange itself."""
    from xponents_spark.pipeline import extract
    from xponents_spark.plans import (prepare_input, read_bucketed,
                                      salted_repartition, write_bucketed)
    from xponents_spark.sources import synthesize_transcripts

    par = spark.sparkContext.defaultParallelism
    in_dir = _out_dir()
    out_dir = _out_dir()
    try:
        t = synthesize_transcripts(spark, SF_DIR, turns_per_doc=turns_per_doc)
        # buckets = 8x cores: conv-keyed buckets balance WORK only by the
        # law of large numbers (payload density varies per conversation) —
        # measured at sf0.1: 64 buckets ran 11% behind the salted path on
        # straggler tail, 256 reached parity.  The table-design rule this
        # encodes: bucket counts should target file-sized units well above
        # the cluster's core count, exactly Iceberg's guidance.
        write_bucketed(t, in_dir, buckets=max(par * 8, 8))     # untimed ETL
        # split granularity: at cluster scale bucket files are >=128 MB and
        # one file = one+ tasks; at bench scale they are ~1 MB and Spark's
        # small-file packing (openCostInBytes floor) would coalesce 64
        # buckets into ~12 tasks, halving map parallelism — emulate the
        # real-file-size regime by sizing splits to the actual bytes
        total_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, fs in os.walk(in_dir)
            for f in fs if f.endswith(".parquet"))
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(max(total_bytes // (par * 2), 1 << 20)))
        spark.conf.set("spark.sql.files.openCostInBytes", "65536")
        src, meta = read_bucketed(spark, in_dir)
        n = src.count()

        def run(df):
            (extract(df).select(*OUT_COLS)
             .sortWithinPartitions("conv_id", "turn_idx")
             .write.mode("overwrite").parquet(out_dir))

        zero = lambda: run(prepare_input(src, meta))          # noqa: E731
        salted = lambda: run(salted_repartition(src, max(par * 2, 8)))  # noqa: E731
        # identical warm-up count for BOTH variants so first-run JIT /
        # worker-fork / page-cache cost cannot leak into either side of
        # the published exchange_cost_sec delta (ADVICE r4)
        zero(); zero()                                        # warm
        best0 = min(timed(zero), timed(zero), timed(zero))
        salted(); salted()                                    # warm
        best_s = min(timed(salted), timed(salted), timed(salted))
        return {"sec": round(best0, 3),
                "turns_per_sec": round(n / best0, 1),
                "salted_same_source_sec": round(best_s, 3),
                "exchange_cost_sec": round(best_s - best0, 3)}
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def bench_queries(spark) -> dict[str, float]:
    import __spark_entry__ as entry
    # headline queries only: the exact O(n^2) ground-truth joins
    # (ngram_jaccard_pairs, cosine_pairs) stay out — they verify the LSH
    # operators at small SF, they are not the scale path
    picks = ["xcoord_extract", "xtemporal_extract", "place_extract",
             "main_content", "match_label_histogram", "exact_dedup",
             "minhash_near_dups", "simhash_near_dups", "ann_cosine_topk",
             "token_stats", "lang_id", "quality_score", "fingerprint",
             "repetition_stats", "duplicated_spans",
             "event_hourly_windows", "characterize",
             "decontaminate", "redact_pii", "corpus_split_mix",
             "container_text_recovery", "sessionize", "asof_join",
             "range_join",
             # round-6 additions: NEW keys only (existing series keep
             # measuring the same work round-over-round)
             "gopher_filter_full", "ngram_jaccard_pairs",
             "near_dup_groups", "remove_duplicated_spans",
             "embedding_near_dups", "near_dups_all",
             "image_text_recovery", "pdf_text_recovery",
             "office_text_recovery"]
    qs = entry.queries()
    # merged out of queries() (driver 50-cap) but still benched per-scheme
    # so the per-query time series stays comparable across rounds
    # (exact_dedup's gate row now unions prefix_dedup — bench the plain
    # operator so the series keeps measuring the same work)
    from xponents_spark.operators import exact_dedup as _exact_op
    from xponents_spark.operators import quality_score as _quality_op
    from xponents_spark.operators import token_stats as _token_op
    from xponents_spark.operators import fingerprint as _fingerprint_op
    from xponents_spark.pipeline import characterize as _characterize_op
    from xponents_spark.operators import lang_id as _lang_op
    extra = {"minhash_near_dups": entry.q_minhash_dedup,
             "simhash_near_dups": entry.q_simhash_dedup,
             "exact_dedup": lambda spark, sf: _exact_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             "token_stats": lambda spark, sf: _token_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             "quality_score": lambda spark, sf: _quality_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             "fingerprint": lambda spark, sf: _fingerprint_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             "characterize": lambda spark, sf: _characterize_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             "lang_id": lambda spark, sf: _lang_op(
                 spark.read.parquet(os.path.join(sf, "documents.parquet"))),
             # 1/10 doc subsample: python fixture CONSTRUCTION dominates
             # this query; the conversion+explode stage under test still
             # sees hundreds of containers, and the sf0.01 gate runs the
             # full set
             "container_text_recovery": lambda spark, sf:
                 entry.q_container_roundtrip(spark, sf, sample_mod=10)}
    out = {}
    for name in picks:
        fn = extra.get(name) or qs[name]
        run = lambda: (fn(spark, SF_DIR).write
                       .mode("overwrite").format("noop").save())
        run()  # warm the query's codegen/Arrow paths once
        # best-of-3 timed: this shared host shows 2-3x ambient jitter
        # (BENCH_r02 recorded ~2x slowdowns even on pure-JVM queries like
        # token_stats vs r01 — more samples, better floor)
        out[name] = round(min(timed(run), timed(run), timed(run)), 3)

    # semantic_dedup lives outside queries() (the driver gate sits at its
    # 50-query cap); bench it directly over the embeddings table
    from xponents_spark.operators.similarity import (semantic_dedup,
                                                     train_ivf_centroids)
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = train_ivf_centroids(emb, n_centroids=16)   # train once, offline

    def run_sem():
        (semantic_dedup(emb, threshold=0.95, n_centroids=16, centroids=cents)
         .write.mode("overwrite").format("noop").save())

    run_sem()
    out["semantic_dedup"] = round(min(timed(run_sem), timed(run_sem),
                                      timed(run_sem)), 3)

    # c4_quality_filter: also outside the gate cap; single-Project JVM gate
    from xponents_spark.operators.textstats import c4_quality_filter
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    def run_c4():
        (c4_quality_filter(docs)
         .write.mode("overwrite").format("noop").save())

    run_c4()
    out["c4_quality_filter"] = round(min(timed(run_c4), timed(run_c4),
                                         timed(run_c4)), 3)
    return out


def main():
    result = {"metric": "turns_per_sec_extraction", "unit": "sec", "sf": SF_DIR}

    spark = _spark(CPUS)
    n_docs = _n_docs(spark)
    tpd = max(1, TARGET_TURNS // n_docs)

    dt, turns = bench_extraction(spark, tpd, runs=3)
    result["value"] = round(turns / dt, 1)
    result["turns"] = turns
    # headline is WARM steady-state with a tmpfs sink (see _out_dir note);
    # extract_write_disk_sec is the same warm job writing to local disk
    result["headline_note"] = "warm steady-state, tmpfs sink"
    result["extract_write_sec"] = round(dt, 3)
    result["extract_write_disk_sec"] = round(
        bench_extraction_disk(spark, tpd), 3)
    result["prebucketed"] = bench_extraction_prebucketed(spark, tpd)
    result["queries"] = bench_queries(spark)

    if os.environ.get("BENCH_SCALING"):
        # quick in-bench N vs 4N check; tools/scaling.py is the scaling
        # evidence (perfbench's production job at 1 and 4 slots, beside
        # the no-Spark kernel control).  N=2 -> 4N=8 cores needs at least
        # 8 cores to leave the 4N side uncontended.
        # Round-4 protocol rule: FIXED partition count across sizes —
        # both sides run the identical strong-scaling job (partition
        # counts on a real cluster derive from input splits, not executor
        # counts), so per-task overhead amortizes identically.
        best: dict[int, tuple[float, int]] = {}
        for _trial in range(2):
            for cpus in (2, 8):
                s = _spark(cpus)
                d, n = bench_extraction(s, tpd * 2, runs=2, partitions=48)
                if cpus not in best or d < best[cpus][0]:
                    best[cpus] = (d, n)
        scaling = {f"local[{c}]": {"sec": round(d, 3),
                                   "turns_per_sec": round(n / d, 1)}
                   for c, (d, n) in best.items()}
        tp_n = scaling["local[2]"]["turns_per_sec"]
        tp_4n = scaling["local[8]"]["turns_per_sec"]
        scaling["efficiency_N_to_4N"] = round(tp_4n / (4 * tp_n), 3)
        result["scaling"] = scaling

    print(json.dumps(result))


if __name__ == "__main__":
    main()
