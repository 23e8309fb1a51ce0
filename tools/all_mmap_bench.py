#!/usr/bin/env python
"""Per-node memory of the reference tables served as shared mmap artifacts.

Builds a synthetic gazetteer of ``n_gaz`` raw names (plus the embedded
rows), a postal table of ``n_postal`` tuples and a taxcat lexicon of
``n_taxcat`` raw names, compiles each into its mmap artifact, and runs
extraction over them in one ``workers``-slot Spark job.  A postal or taxcat
size of 0 leaves that table on its embedded rows, so

    SPARK_GRAFT_SF_DIR=<scale dir> python tools/all_mmap_bench.py 300000 0 0 4

is the gazetteer-only run.  Two jobs are timed over the same transcripts:
the tagging features alone (``tag_turns_per_sec_mmap``) and the full
feature set (``all_mmap_turns_per_sec``).  Memory is then counted per node,
not per worker:

  * per-worker private memory (Private_Clean + Private_Dirty from
    ``/proc/<pid>/smaps_rollup``): what each extra worker costs;
  * per-worker RSS, which counts the mapped pages once per worker;
  * node cost: the summed private memory plus one page-cache copy of each
    artifact.

The reference shares one ~3 GB Solr FST per node across all mappers
(Examples/MapReduce/README.md, solr/README.md:164-166); the mmap artifacts
reproduce that sharing for Spark Python workers.

Usage: python tools/all_mmap_bench.py [n_gaz] [n_postal] [n_taxcat] [workers]
Artifacts are cached per table and size under ``$ALL_MMAP_DIR`` (default
/tmp/all_mmap).  Prints one JSON line and writes it to
``BENCH/gaz_mmap_<n_gaz>.json`` (gazetteer only) or
``BENCH/all_mmap_<n_gaz>.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

TAG_FEATURES = ("places", "countries", "taxons", "postal")


def _smaps(pid: int) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 2 and parts[0].rstrip(":") in (
                        "Rss", "Private_Clean", "Private_Dirty"):
                    out[parts[0].rstrip(":")] = int(parts[1])   # kB
    except OSError:
        pass
    return out


def _python_workers(jvm: int) -> list[int]:
    """The PySpark daemon and its forked workers under this run's JVM."""
    import harness
    pids = []
    for pid in harness.descendants(jvm):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark." in fh.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _gazetteer(spark, n: int, base: str, res: dict) -> str:
    pq_dir = os.path.join(base, f"gaz_{n}", "tagger.parquet")
    mm = os.path.join(base, f"gaz_{n}", "tagger.mmap")
    if not os.path.exists(os.path.join(mm, "meta.json")):
        from xponents_spark.gazetteer.data import GAZETTEER_ROWS
        from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
        from xponents_spark.sources.gazetteer_etl import (
            build_tagger_parquet, gazetteer_etl)
        from xponents_spark.sources.gazetteer_synth import \
            synthesize_gazetteer_raw
        t0 = time.time()
        taggable = gazetteer_etl(
            synthesize_gazetteer_raw(spark, n, partitions=64))
        toy = spark.createDataFrame(
            [tuple(r) for r in GAZETTEER_ROWS],
            "place_id string, name string, name_type string, "
            "feat_class string, feat_code string, cc string, adm1 string, "
            "lat double, lon double, id_bias int, pop bigint")
        build_tagger_parquet(
            taggable.unionByName(toy, allowMissingColumns=True), pq_dir)
        res["etl_sec"] = round(time.time() - t0, 1)
        t0 = time.time()
        build_mmap_artifact(pq_dir, mm)
        res["mmap_build_sec"] = round(time.time() - t0, 1)
    with open(os.path.join(mm, "meta.json")) as fh:
        meta = json.load(fh)
    res.update({k: meta[k] for k in ("n_phrases", "n_rows")})
    res["gaz_artifact_mb"] = round(_du(mm) / 1e6, 1)
    res["parquet_artifact_mb"] = round(_du(pq_dir) / 1e6, 1)
    return mm


def _open_probe(mm: str, res: dict) -> None:
    """In this process: the gazetteer index's open cost, one scan, and the
    private memory the two add."""
    from xponents_spark.gazetteer.mmapstore import MmapGazetteerIndex

    def private_kb():
        s = _smaps(os.getpid())
        return s.get("Private_Clean", 0) + s.get("Private_Dirty", 0)
    p0 = private_kb()
    t0 = time.time()
    index = MmapGazetteerIndex(mm)
    res["mmap_open_sec"] = round(time.time() - t0, 3)
    res["mmap_probe_hits"] = len(
        index.scan("travelling to Karitonmas and 北京市 this week"))
    res["mmap_open_private_mb"] = round((private_kb() - p0) / 1024, 1)


def _postal(spark, n: int, base: str, res: dict) -> str:
    pq_dir = os.path.join(base, f"postal_{n}", "postal.parquet")
    mm = os.path.join(base, f"postal_{n}", "postal.mmap")
    if not os.path.exists(os.path.join(mm, "meta.json")):
        from xponents_spark.gazetteer.postal import build_postal_mmap
        from xponents_spark.sources.gazetteer_synth import \
            synthesize_postal_raw
        t0 = time.time()
        synthesize_postal_raw(spark, n).write.mode("overwrite").parquet(pq_dir)
        build_postal_mmap(pq_dir, mm)
        res["postal_build_sec"] = round(time.time() - t0, 1)
    res["postal_artifact_mb"] = round(_du(mm) / 1e6, 1)
    return mm


def _taxcat(spark, n: int, base: str, res: dict) -> str:
    pq_dir = os.path.join(base, f"taxcat_{n}", "taxcat.parquet")
    mm = os.path.join(base, f"taxcat_{n}", "taxcat.mmap")
    if not os.path.exists(os.path.join(mm, "meta.json")):
        from xponents_spark.gazetteer.mmapstore import build_taxcat_mmap
        from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                       synthesize_taxcat_raw,
                                                       taxcat_etl)
        t0 = time.time()
        build_taxcat_parquet(taxcat_etl(synthesize_taxcat_raw(
            spark, n, partitions=16)), pq_dir)
        build_taxcat_mmap(pq_dir, mm)
        res["taxcat_build_sec"] = round(time.time() - t0, 1)
    res["taxcat_artifact_mb"] = round(_du(mm) / 1e6, 1)
    return mm


def main():
    n_gaz = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_postal = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    n_taxcat = int(sys.argv[3]) if len(sys.argv) > 3 else 600_000
    workers = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to a scale directory that holds "
                 "documents.parquet")
    base = os.environ.get("ALL_MMAP_DIR", "/tmp/all_mmap")

    import harness
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.session import get_spark
    from xponents_spark.sources import synthesize_transcripts

    def session():
        spark = get_spark(app="all-mmap", master=f"local[{workers}]",
                          shuffle_partitions=max(workers * 2, 16))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    res = {"n_gaz_raw": n_gaz, "n_postal": n_postal,
           "n_taxcat_raw": n_taxcat, "workers": workers}
    spark = session()
    try:
        tables = {"gazetteer_parquet": _gazetteer(spark, n_gaz, base, res)}
        if n_postal:
            tables["postal_parquet"] = _postal(spark, n_postal, base, res)
        if n_taxcat:
            tables["taxcat_parquet"] = _taxcat(spark, n_taxcat, base, res)
    finally:
        # a fresh JVM for the measured jobs: the builds' idle Python
        # workers would otherwise be counted as the job's
        harness.shutdown_jvm()
    _open_probe(tables["gazetteer_parquet"], res)

    spark = session()
    try:
        t = synthesize_transcripts(spark, sf_dir, turns_per_doc=4)
        t = salted_repartition(t, workers * 2).cache()
        n = res["n_turns"] = t.count()

        def run(**features):
            (extract(t, **features, **tables)
             .select(F.size("matches").alias("nm"))
             .agg(F.sum("nm")).collect())

        for key, features in (("tag_turns_per_sec_mmap",
                               {"features": TAG_FEATURES}),
                              ("all_mmap_turns_per_sec", {})):
            run(**features)      # warm: fork workers, open the mappings
            t0 = time.time()
            run(**features)
            res[key] = round(n / (time.time() - t0), 1)

        stats = [_smaps(p) for p in _python_workers(harness.jvm_pid())]
        stats = [s for s in stats if s.get("Rss", 0) > 50_000]  # not idle
        if stats:
            priv = [s.get("Private_Clean", 0) + s.get("Private_Dirty", 0)
                    for s in stats]
            art_mb = sum(res.get(f"{k}_artifact_mb", 0)
                         for k in ("gaz", "postal", "taxcat"))
            res["n_measured_workers"] = len(stats)
            res["worker_rss_mb_mean"] = round(
                sum(s["Rss"] for s in stats) / len(stats) / 1024, 1)
            res["worker_private_mb_mean"] = round(
                sum(priv) / len(priv) / 1024, 1)
            res["worker_private_mb_max"] = round(max(priv) / 1024, 1)
            res["node_total_private_mb"] = round(sum(priv) / 1024, 1)
            res["artifacts_shared_mb"] = round(art_mb, 1)
            res["node_cost_mb"] = round(sum(priv) / 1024 + art_mb, 1)
    finally:
        harness.shutdown_jvm()

    print(json.dumps(res))
    name = "gaz_mmap" if len(tables) == 1 else "all_mmap"
    with open(os.path.join(REPO, "BENCH", f"{name}_{n_gaz}.json"), "w") as fh:
        json.dump(res, fh, indent=1)


if __name__ == "__main__":
    main()
