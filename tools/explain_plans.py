#!/usr/bin/env python
"""Dump .explain('formatted') for the headline plans — evidence that scans
prune columns, filters push down, and the extraction stage stays a single
exchange-free mapInPandas.  Writes BENCH/PLANS.md."""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from xponents_spark.session import get_spark  # noqa: E402
from xponents_spark.sources import synthesize_transcripts  # noqa: E402
from xponents_spark.pipeline import extract, exploded_matches  # noqa: E402
from xponents_spark.plans import salted_repartition  # noqa: E402

SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    t = synthesize_transcripts(spark, SF)
    ext = extract(salted_repartition(t, 8))
    sections.append(("flagship: synthesize -> salt -> extract", formatted(ext)))

    # the zero-shuffle 100 TB path: conv_id-bucketed input, salt skipped
    import tempfile

    from xponents_spark.plans import (prepare_input, read_bucketed,
                                      write_bucketed)
    bdir = tempfile.mkdtemp(prefix="plans_bucketed_") + "/t"
    write_bucketed(t, bdir, buckets=8)
    src, bmeta = read_bucketed(spark, bdir)
    sections.append(("flagship over PRE-BUCKETED input (expect: scan -> "
                     "project -> MapInPandas, ZERO Exchange — the salting "
                     "repartition is droppable when bucket metadata "
                     "declares a conv_id spread; plan shape pinned by "
                     "test_prebucketed_plan_has_no_exchange)",
                     formatted(extract(prepare_input(src, bmeta)))))

    coords = exploded_matches(ext, label="coord").select("conv_id", "lat", "lon")
    sections.append(("exploded coord matches (column pruning through explode)",
                     formatted(coords)))

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pruned = docs.filter("n_chars > 200").select("doc_id", "n_chars")
    sections.append(("documents scan: filter pushdown + column pruning "
                     "(expect PushedFilters + 2-column ReadSchema)",
                     formatted(pruned)))

    from xponents_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs
    sections.append(("exact dedup (map-side partial aggregation)",
                     formatted(exact_dedup(docs))))

    sections.append(("ngram jaccard similarity join (shuffle on shingles; "
                     "partial agg before each exchange)",
                     formatted(ngram_jaccard_pairs(docs))))

    from xponents_spark.operators.similarity import cosine_pairs_bruteforce
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections.append(("exact cosine pairs (JVM-side zip_with/aggregate, "
                     "whole-stage codegen, no Python)",
                     formatted(cosine_pairs_bruteforce(emb))))

    from xponents_spark.sources.gazetteer_etl import (
        gazetteer_etl, synthesize_raw_gazetteer)
    sections.append(("gazetteer ETL (window dedup + CASE heuristics, "
                     "pure codegen)",
                     formatted(gazetteer_etl(
                         synthesize_raw_gazetteer(spark, SF)))))

    from xponents_spark.pipeline import extract_conversation_scoped
    sections.append(("conversation-scoped two-pass rescore (expect: pass-1 "
                     "read back from the resumable CHECKPOINT TABLE — no "
                     "InMemoryRelation anywhere; one keyed merge: each "
                     "checkpoint row left-joins the broadcast conv->country "
                     "pref map and is tagged _redo, the _redo filter feeds "
                     "the redo mapInPandas, its NOT-_redo complement is the "
                     "kept rows; no anti-join)",
                     formatted(extract_conversation_scoped(t))))

    from xponents_spark.operators.dedup import minhash_near_dups
    sections.append(("minhash LSH band join (expect: exchange on 12-byte "
                     "band keys only, signatures re-attached to survivors "
                     "after the join)",
                     formatted(minhash_near_dups(docs, threshold=0.2))))

    from xponents_spark.operators.dedup import duplicated_spans
    sections.append(("duplicated_spans / ExactSubstr (r7 single-scan: ONE "
                     "shingle explode -> ONE exchange on the gram key -> "
                     "per-gram window count >= 2 -> per-doc window islands; "
                     "no second explode, no join-back — the corpus "
                     "k-gram construction runs once)",
                     formatted(duplicated_spans(docs, k=8))))

    from xponents_spark.operators.textstats import (
        gopher_quality_filter, gopher_quality_filter_single_pass)
    sections.append(("gopher quality gate (expect: three map-side-combined "
                     "aggregations joined on doc_id, no extra wide pass "
                     "over text)",
                     formatted(gopher_quality_filter(docs))))

    sections.append(("gopher quality gate SINGLE-PASS (expect: one "
                     "MapInPandas over the scan — the Gopher signal "
                     "kernel — then a Project; zero Exchange, zero joins)",
                     formatted(gopher_quality_filter_single_pass(docs))))

    from xponents_spark.operators.similarity import (semantic_dedup,
                                                     train_ivf_centroids)
    cents = train_ivf_centroids(emb, n_centroids=8)
    sections.append(("semantic dedup / SemDeDup (expect: checkpointed "
                     "assignment [Scan ExistingRDD — the scan+MapInPandas "
                     "matmul runs ONCE for the sizing agg and this pass, "
                     "see similarity.py] -> ONE Exchange on list_id -> "
                     "FlatMapGroupsInPandas; no join-back for the cluster "
                     "id; max_cluster=None restores the direct "
                     "scan->MapInPandas single-pass plan)",
                     formatted(semantic_dedup(emb, centroids=cents))))

    from xponents_spark.operators.dedup import decontaminate
    bench_docs = docs.limit(50).selectExpr("doc_id AS bench_id",
                                           "text")
    sections.append(("decontaminate / benchmark 13-gram collision (expect: "
                     "corpus side scan -> gram-array Project -> Generate -> "
                     "BroadcastHashJoin [BuildRight = benchmark grams] — "
                     "the 100 TB corpus never shuffles before the join; "
                     "the only Exchanges aggregate the tiny contaminated "
                     "hit set)",
                     formatted(decontaminate(docs, bench_docs))))

    from xponents_spark.operators.redact import redact_pii
    sections.append(("redact_pii (expect: ONE Project over the scan — "
                     "whole-stage codegen regexp chain, zero Exchange, "
                     "zero Python)",
                     formatted(redact_pii(docs))))

    from xponents_spark.operators.corpus import hash_split, mixture_sample
    from pyspark.sql import functions as F
    mixed = mixture_sample(
        hash_split(docs).withColumn(
            "source", F.concat(F.lit("s"), (docs.doc_id % 3).cast("string"))),
        rates={"s0": 2.5, "s1": 1.0, "s2": 0.25}, source_col="source")
    sections.append(("corpus_split_mix (expect: ONE WholeStageCodegen span "
                     "— scan -> Filter -> Project -> Generate, zero "
                     "Exchange, zero Python; split + mixture assignment "
                     "are pure functions of (key, salt))",
                     formatted(mixed)))

    from xponents_spark.operators.sessions import sessionize
    events = spark.read.parquet(f"{SF}/events.parquet")
    ts_events = events.withColumn(
        "conv_id", events.user_id.cast("string")).withColumn(
        "turn_idx", events.event_id).select("conv_id", "turn_idx", "ts")
    sections.append(("sessionize (expect: scan -> derive ts -> ONE "
                     "Exchange hashpartitioning(conv_id) -> Sort -> "
                     "Window(lag) -> Window(running sum) -> Project; ZERO "
                     "Exchange when the input is already "
                     "conv_id-partitioned — pinned by "
                     "test_sessionize_semantics)",
                     formatted(sessionize(ts_events))))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as fh:
        fh.write("# Physical plans (evidence snapshot)\n\n"
                 "Generated by tools/explain_plans.py at sf0.01.\n")
        for title, plan in sections:
            fh.write(f"\n## {title}\n\n```\n{plan}\n```\n")
    print("wrote BENCH/PLANS.md")
    for title, plan in sections:
        print("=" * 70, "\n#", title)
        print(plan[:1800])


if __name__ == "__main__":
    main()
