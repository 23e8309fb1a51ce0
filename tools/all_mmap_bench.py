#!/usr/bin/env python
"""Combined per-node memory story (VERDICT r3 item 8): ALL THREE reference
side tables — gazetteer (10M names), postal (4M tuples), taxcat (JRC-class
lexicon) — as mmap shared-memory artifacts at once, driving the FULL
extraction feature set through one multi-worker Spark job.

Reports per-worker private memory, node-level cost (sum of worker private
+ one page-cache copy of each artifact) and end-to-end throughput, so the
"one FST per node" comparison to the reference covers the whole memory
footprint, not one table at a time.

Usage: python tools/all_mmap_bench.py [n_gaz] [n_postal] [n_taxcat] [workers]
Writes BENCH/all_mmap.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from gaz_mmap_bench import _du, _pyspark_workers, _smaps  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = os.environ.get("ALL_MMAP_DIR", "/tmp/all_mmap")


def main():
    n_gaz = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_postal = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    n_taxcat = int(sys.argv[3]) if len(sys.argv) > 3 else 600_000
    workers = int(sys.argv[4]) if len(sys.argv) > 4 else 8

    from xponents_spark.session import get_spark
    spark = get_spark(app="all-mmap", master=f"local[{workers}]",
                      shuffle_partitions=max(workers * 2, 16))
    spark.sparkContext.setLogLevel("ERROR")

    res = {"n_gaz_raw": n_gaz, "n_postal": n_postal,
           "n_taxcat_raw": n_taxcat, "workers": workers}
    os.makedirs(BASE, exist_ok=True)

    # --- gazetteer mmap (reuse if present: one-off ETL) ---
    gaz_pq = os.path.join(BASE, "tagger.parquet")
    gaz_mm = os.path.join(BASE, "tagger.mmap")
    if not os.path.exists(os.path.join(gaz_mm, "meta.json")):
        from xponents_spark.gazetteer.data import GAZETTEER_ROWS
        from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
        from xponents_spark.sources.gazetteer_etl import (
            build_tagger_parquet, gazetteer_etl)
        from xponents_spark.sources.gazetteer_synth import \
            synthesize_gazetteer_raw
        t0 = time.time()
        taggable = gazetteer_etl(
            synthesize_gazetteer_raw(spark, n_gaz, partitions=64))
        toy_cols = ["place_id", "name", "name_type", "feat_class",
                    "feat_code", "cc", "adm1", "lat", "lon", "id_bias", "pop"]
        toy = spark.createDataFrame([tuple(r) for r in GAZETTEER_ROWS],
                                    toy_cols) \
            .selectExpr("place_id", "name", "name_type", "feat_class",
                        "feat_code", "cc", "adm1", "CAST(lat AS DOUBLE) lat",
                        "CAST(lon AS DOUBLE) lon",
                        "CAST(id_bias AS INT) id_bias",
                        "CAST(pop AS BIGINT) pop")
        build_tagger_parquet(
            taggable.unionByName(toy, allowMissingColumns=True), gaz_pq)
        build_mmap_artifact(gaz_pq, gaz_mm)
        res["gaz_build_sec"] = round(time.time() - t0, 1)
    res["gaz_artifact_mb"] = round(_du(gaz_mm) / 1e6, 1)

    # --- postal mmap ---
    postal_pq = os.path.join(BASE, "postal.parquet")
    postal_mm = os.path.join(BASE, "postal.mmap")
    if not os.path.exists(os.path.join(postal_mm, "meta.json")):
        from xponents_spark.gazetteer.postal import build_postal_mmap
        from xponents_spark.sources.gazetteer_synth import \
            synthesize_postal_raw
        t0 = time.time()
        synthesize_postal_raw(spark, n_postal).write \
            .mode("overwrite").parquet(postal_pq)
        build_postal_mmap(postal_pq, postal_mm)
        res["postal_build_sec"] = round(time.time() - t0, 1)
    res["postal_artifact_mb"] = round(_du(postal_mm) / 1e6, 1)

    # --- taxcat mmap ---
    tax_pq = os.path.join(BASE, "taxcat.parquet")
    tax_mm = os.path.join(BASE, "taxcat.mmap")
    if not os.path.exists(os.path.join(tax_mm, "meta.json")):
        from xponents_spark.gazetteer.mmapstore import build_taxcat_mmap
        from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                       synthesize_taxcat_raw,
                                                       taxcat_etl)
        t0 = time.time()
        build_taxcat_parquet(taxcat_etl(synthesize_taxcat_raw(
            spark, n_taxcat, partitions=16)), tax_pq)
        build_taxcat_mmap(tax_pq, tax_mm)
        res["taxcat_build_sec"] = round(time.time() - t0, 1)
    res["taxcat_artifact_mb"] = round(_du(tax_mm) / 1e6, 1)

    # --- the combined end-to-end job: FULL feature set, all three mmaps ---
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import synthesize_transcripts

    t = synthesize_transcripts(spark, SF_DIR, turns_per_doc=4)
    t = salted_repartition(t, workers * 2).cache()
    n = t.count()

    def run():
        (extract(t, gazetteer_parquet=gaz_mm, postal_parquet=postal_mm,
                 taxcat_parquet=tax_mm)
         .select(F.size("matches").alias("nm"))
         .agg(F.sum("nm")).collect())

    run()               # warm: fork workers, open all three mappings
    t0 = time.time()
    run()
    res["all_mmap_turns_per_sec"] = round(n / (time.time() - t0), 1)
    res["n_turns"] = n

    stats = [_smaps(p) for p in _pyspark_workers(spark)]
    stats = [s for s in stats if s.get("Rss", 0) > 50_000]
    if stats:
        priv = [s.get("Private_Clean", 0) + s.get("Private_Dirty", 0)
                for s in stats]
        art_mb = (res["gaz_artifact_mb"] + res["postal_artifact_mb"]
                  + res["taxcat_artifact_mb"])
        res["n_measured_workers"] = len(stats)
        res["worker_private_mb_mean"] = round(sum(priv) / len(priv) / 1024, 1)
        res["worker_private_mb_max"] = round(max(priv) / 1024, 1)
        res["node_total_private_mb"] = round(sum(priv) / 1024, 1)
        res["node_cost_mb"] = round(sum(priv) / 1024 + art_mb, 1)
        res["artifacts_shared_mb"] = round(art_mb, 1)

    print(json.dumps(res))
    bench_dir = os.path.join(os.path.dirname(__file__), "..", "BENCH")
    if os.path.isdir(bench_dir):
        with open(os.path.join(bench_dir, "all_mmap.json"), "w") as fh:
            json.dump(res, fh, indent=1)


if __name__ == "__main__":
    main()
