"""SparkSession builder with the configuration this engine assumes.

Tuned for the extraction workload: Arrow-batched pandas UDFs, AQE for
runtime re-planning, UTC session timezone (timestamp determinism vs the
DuckDB oracle), and shuffle-partition counts sized for the local harness.
On a real cluster the same builder applies — only master/partitions change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's static session defaults — shared between get_spark (local
# harness) and the spark-submit entry (tools/submit_job.py), where they
# apply ONLY when the submitter's --conf has not already set the key.
# Rationale for each value: see the builder comments in get_spark below.
ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # r7: InferFiltersFromGenerate duplicates the generator's INPUT
    # expression into a `size(e) > 0 AND e IS NOT NULL` filter below the
    # explode.  Every explode in this engine generates from a DENSE
    # computed array (token n-grams, shingles, band keys — built by the
    # projection right above, ~never empty by construction), so the
    # inferred filter re-runs the full tokenize+slice+concat pipeline per
    # row for no row pruning: measured 2x map-stage CPU on decontaminate
    # (4.6 s -> 1.65 s at sf0.1) and the same double-build in
    # duplicated_spans / remove_duplicated_spans plans.  The rule's
    # upside (dropping generate-nothing rows before a shuffle) does not
    # apply here — the explode pipelines into the same stage as its
    # projection.  Guide §4.4's lesson (stop the optimizer duplicating
    # expensive expressions), applied at the engine level.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def engine_conf() -> dict:
    """Static defaults plus the env-overridable entries, resolved now."""
    conf = dict(ENGINE_CONF)
    conf["spark.locality.wait"] = os.environ.get(
        "SPARK_GRAFT_LOCALITY_WAIT", "0s")
    return conf


def get_spark(app: str = "xponents-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # Arrow batches of 8192 rows: interleaved A/B at sf0.1 measured +5%
    # end-to-end over 2048 in both reps (fewer Arrow record batches through the
    # python-worker pipe per task); 16384 showed no further gain.  A batch
    # of 8192 transcript rows is ~4-8 MB in pandas — safely inside worker
    # memory at 32 workers/node.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # single-JVM local[N] puts ALL task concurrency in the driver heap;
    # size it with the thread count or GC thrashes (measured: 8g heap at
    # local[32] spent 46s/12s-job in GC — 0.39 scaling efficiency; 1.5g/core
    # restores GC to ~1.5s.  A real cluster never hits this: executors are
    # separate JVMs with per-executor heaps, e.g. 8 cores x 4-6g).
    local_threads = 0
    if master.startswith("local[") and master[6:-1].isdigit():
        local_threads = int(master[6:-1])
    want_gb = max(8, (local_threads * 3 + 1) // 2)
    # cap at half of AVAILABLE RAM — the smaller of the host total and the
    # cgroup limit (containers report the host's MemTotal but are killed at
    # the cgroup ceiling).  A host with less than 1.5 GB/core trades some
    # GC pressure for not swapping/OOM-ing; set SPARK_DRIVER_MEM to choose.
    try:
        with open("/proc/meminfo") as fh:
            avail = int(fh.readline().split()[1]) * 1024
        for cg in ("/sys/fs/cgroup/memory.max",
                   "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
            try:
                raw = open(cg).read().strip()
                if raw.isdigit():
                    avail = min(avail, int(raw))
            except OSError:
                continue
        want_gb = max(2, min(want_gb, avail // (2 << 30)))
    except (OSError, ValueError, IndexError):
        pass
    default_mem = f"{want_gb}g"
    # Shared static defaults (ENGINE_CONF + locality, see engine_conf):
    # - UTC session tz: timestamp determinism vs the DuckDB oracle
    # - AQE + coalesce + skew-join: runtime re-planning
    # - Arrow: the pandas-UDF transport
    # - maxPartitionBytes=128m: extraction output rows are wide (match
    #   arrays); keep file splits sane
    # - v2 file-output committer: task commit places files directly, job
    #   commit is O(1) — v1's driver-side serial rename pass is Amdahl
    #   overhead that grows with task count (measured ~3% end-to-end at
    #   96 output files, charged disproportionately to larger clusters).
    #   Safe for this engine: writes are overwrite-idempotent and
    #   resumability/atomicity live in the manifest layer
    #   (plans/checkpoints.py), not in commit renames.
    # - Delay scheduling OFF (locality.wait=0s): the hot path is short
    #   (~0.3 s) Arrow tasks over cached/columnar input, and the 3 s
    #   default makes FREE cores sit idle waiting for their block's
    #   preferred executor whenever block placement is uneven — a stall
    #   charged only to multi-executor clusters (a 1-executor job is
    #   always PROCESS_LOCAL).  Measured on the 400k-turn probe job,
    #   local-cluster[4,4,6144]: wall 24.0 s -> 16.3 s (-32%) with
    #   wait=0; an EMPTY same-plan job (pure per-job overhead) drops
    #   7.0 s -> 4.0 s.  The remedy cost is a remote cache-block fetch
    #   (ms on any datacenter network), and the target deployment scans
    #   object-store Iceberg where scan locality does not exist anyway.
    #   Override for HDFS-colocated clusters where NODE_LOCAL disk reads
    #   matter: SPARK_GRAFT_LOCALITY_WAIT=3s.
    b = SparkSession.builder.appName(app).master(master)
    for k, v in engine_conf().items():
        b = b.config(k, v)
    return (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_mem))
        .getOrCreate()
    )
