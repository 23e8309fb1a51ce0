#!/usr/bin/env python
"""Shared-memory gazetteer at the reference's scale class (VERDICT r2 item 4).

Builds a >=10M-name synthetic gazetteer, compiles its mmap shared-page
artifact, then runs the multi-worker Spark tagging job against it and
accounts memory PER NODE, not per worker:

  * per-worker PRIVATE memory (Private_Clean+Private_Dirty from
    /proc/<pid>/smaps_rollup) — what each extra worker actually costs;
  * per-worker RSS (includes the mmap pages, counted once per worker —
    the misleading number);
  * node-level cost = sum(private) + one artifact copy in page cache.

The reference shares one ~3 GB Solr FST per node across all mappers
(Examples/MapReduce/README.md, solr/README.md:164-166); the mmap artifact
reproduces that sharing for Spark python workers.

Usage: python tools/gaz_mmap_bench.py [n_rows] [workers] [out_dir]
Writes JSON to stdout (and BENCH/gaz_mmap_<n>.json if run from repo root).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _smaps(pid: int) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 2 and parts[0].rstrip(":") in (
                        "Rss", "Pss", "Private_Clean", "Private_Dirty",
                        "Shared_Clean", "Shared_Dirty"):
                    out[parts[0].rstrip(":")] = int(parts[1])   # kB
    except OSError:
        pass
    return out


def _pyspark_workers(spark) -> list[int]:
    """PIDs of this run's pyspark worker processes: the pyspark.daemon
    and pyspark.worker descendants of this Spark application's JVM, so
    workers of another Spark application on the host (still exiting,
    say) are not counted."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:      # "pid (comm) S ppid"
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    pids, todo = [], [spark.sparkContext._gateway.proc.pid]
    while todo:
        for pid in children.get(todo.pop(), ()):
            todo.append(pid)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().decode(errors="replace")
            except OSError:
                continue
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                pids.append(pid)
    return pids


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    workers = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/gaz_mmap"
    tagger_pq = os.path.join(out_dir, "tagger.parquet")
    mmap_dir = os.path.join(out_dir, "tagger.mmap")

    from xponents_spark.session import get_spark
    from xponents_spark.sources.gazetteer_etl import (build_tagger_parquet,
                                                      gazetteer_etl)
    from xponents_spark.sources.gazetteer_synth import synthesize_gazetteer_raw

    res = {"n_raw_rows": n_rows, "workers": workers}
    spark = get_spark(app="gaz-mmap", master=f"local[{workers}]",
                      shuffle_partitions=max(workers * 2, 16))
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(os.path.join(mmap_dir, "meta.json")):
        t0 = time.time()
        raw = synthesize_gazetteer_raw(spark, n_rows, partitions=64)
        taggable = gazetteer_etl(raw)
        from xponents_spark.gazetteer.data import GAZETTEER_ROWS
        toy_cols = ["place_id", "name", "name_type", "feat_class",
                    "feat_code", "cc", "adm1", "lat", "lon", "id_bias", "pop"]
        toy = spark.createDataFrame([tuple(r) for r in GAZETTEER_ROWS],
                                    toy_cols) \
            .selectExpr("place_id", "name", "name_type", "feat_class",
                        "feat_code", "cc", "adm1", "CAST(lat AS DOUBLE) lat",
                        "CAST(lon AS DOUBLE) lon",
                        "CAST(id_bias AS INT) id_bias",
                        "CAST(pop AS BIGINT) pop")
        build_tagger_parquet(taggable.unionByName(toy,
                                                  allowMissingColumns=True),
                             tagger_pq)
        res["etl_sec"] = round(time.time() - t0, 1)

        from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
        t0 = time.time()
        meta = build_mmap_artifact(tagger_pq, mmap_dir)
        res["mmap_build_sec"] = round(time.time() - t0, 1)
        res.update({k: meta[k] for k in ("n_phrases", "n_rows")})
    else:
        with open(os.path.join(mmap_dir, "meta.json")) as fh:
            meta = json.load(fh)
        res.update({k: meta[k] for k in ("n_phrases", "n_rows")})
    res["mmap_artifact_mb"] = round(_du(mmap_dir) / 1e6, 1)
    res["parquet_artifact_mb"] = round(_du(tagger_pq) / 1e6, 1)

    # single-process probe: index open cost + scan sanity
    import resource

    from xponents_spark.gazetteer.mmapstore import MmapGazetteerIndex
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.time()
    mm = MmapGazetteerIndex(mmap_dir)
    res["mmap_open_sec"] = round(time.time() - t0, 3)
    probe = "travelling to Karitonmas and 北京市 this week"
    hits = mm.scan(probe)
    res["mmap_probe_hits"] = len(hits)
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    res["mmap_open_private_mb"] = round((rss1 - rss0) / 1024, 1)

    # tagging throughput + per-worker memory through the Spark job
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import synthesize_transcripts

    t = synthesize_transcripts(spark, SF_DIR, turns_per_doc=4)
    t = salted_repartition(t, workers * 2).cache()
    n = t.count()
    feats = ("places", "countries", "taxons", "postal")

    def run():
        (extract(t, features=feats, gazetteer_parquet=mmap_dir)
         .select(F.col("conv_id"), F.size("matches").alias("nm"))
         .agg(F.sum("nm")).collect())

    run()          # warm: fork workers, open mmaps
    t0 = time.time()
    run()
    res["tag_turns_per_sec_mmap"] = round(n / (time.time() - t0), 1)
    res["n_turns"] = n

    stats = [_smaps(p) for p in _pyspark_workers(spark)]
    stats = [s for s in stats if s.get("Rss", 0) > 50_000]   # real workers
    if stats:
        priv = [s.get("Private_Clean", 0) + s.get("Private_Dirty", 0)
                for s in stats]
        res["n_measured_workers"] = len(stats)
        res["worker_rss_mb_mean"] = round(
            sum(s["Rss"] for s in stats) / len(stats) / 1024, 1)
        res["worker_private_mb_mean"] = round(sum(priv) / len(priv) / 1024, 1)
        res["worker_private_mb_max"] = round(max(priv) / 1024, 1)
        res["node_total_private_mb"] = round(sum(priv) / 1024, 1)
        res["node_cost_mb"] = round(
            sum(priv) / 1024 + _du(mmap_dir) / 1e6, 1)

    print(json.dumps(res))
    bench_dir = os.path.join(os.path.dirname(__file__), "..", "BENCH")
    if os.path.isdir(bench_dir):
        with open(os.path.join(bench_dir, f"gaz_mmap_{n_rows}.json"),
                  "w") as fh:
            json.dump(res, fh, indent=1)


if __name__ == "__main__":
    main()
