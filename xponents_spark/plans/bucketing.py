"""Pre-bucketed input: the zero-shuffle flagship path.

The north rule's input is an Iceberg transcript table **bucketed by
conv_id** (``bucket(conv_id)`` partition transform).  When the input is
already physically bucketed with enough well-sized splits, the flagship
pipeline's only exchange — the skew-salting repartition — is redundant:
extraction is per-turn independent, so any balanced physical layout feeds
the Arrow stage directly and the whole job is

    scan -> project -> MapInPandas -> (sortWithinPartitions) -> write

with ZERO Exchange nodes.  At 100 TB that removes the one full-corpus
shuffle from the hot path; the write stays bucket-aligned for downstream
conversation-scope joins.

This sandbox has no Iceberg catalog, so bucket metadata rides a sidecar
JSON next to the parquet dir (``_bucket_meta.json`` — the stand-in for the
Iceberg partition-spec the real table carries).  ``prepare_input`` is the
single entry point: given a DataFrame and the metadata (or None), it
either trusts the layout and skips the salt, or applies
``salted_repartition`` — so callers write one code path and the plan
adapts to the table's physical layout, exactly how a Catalyst rule would
treat a bucketed scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .salting import salted_repartition

_META_NAME = "_bucket_meta.json"


def write_bucketed(df: DataFrame, path: str, buckets: int) -> dict:
    """Materialize ``df`` physically bucketed by
    ``pmod(hash(conv_id), buckets)``
    (the same function the resumable checkpoints and Iceberg's conceptual
    ``bucket()`` transform use) and record the layout in a sidecar.

    One row-group-aligned file per bucket: rows of one conversation land in
    exactly one bucket, so a later conv-scope pass can prune or co-join
    without a shuffle."""
    bcol = F.pmod(F.hash(F.col("conv_id")), F.lit(buckets))
    # directory-per-bucket (the Iceberg bucket-transform layout), NOT
    # repartition(buckets, bcol): hashing the bucket VALUE into `buckets`
    # partitions collides (~1/e of partitions empty, others holding 2-3
    # buckets — measured 23 skewed files for 64 buckets, 5x row skew).
    # partitionBy guarantees every bucket its own directory with ~uniform
    # bytes; the repartition below just bounds files-per-directory.
    (df.withColumn("_bucket", bcol)
       .repartition(buckets, F.col("_bucket"))
       .write.mode("overwrite").partitionBy("_bucket").parquet(path))
    meta = {"bucketed_by": "conv_id", "buckets": int(buckets),
            "transform": "pmod(hash(col), buckets)"}
    with open(os.path.join(path, _META_NAME), "w") as fh:
        json.dump(meta, fh)
    return meta


def bucket_metadata(path: str) -> dict | None:
    """The table's physical-layout declaration, or None (unbucketed)."""
    p = os.path.join(path, _META_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def read_bucketed(spark: SparkSession, path: str) -> tuple[DataFrame, dict | None]:
    df = spark.read.parquet(path)
    if "_bucket" in df.columns:
        df = df.drop("_bucket")      # layout detail, not data (a narrow
    return df, bucket_metadata(path)  # projection — no exchange)


def prepare_input(df: DataFrame, meta: dict | None = None,
                  num_partitions: int | None = None) -> DataFrame:
    """The flagship pipeline's input stage: salt unless the table's layout
    already spreads conversations.

    ``meta`` from :func:`bucket_metadata`: when it declares bucketing by
    ``conv_id`` with at least ``num_partitions`` buckets, the scan's own splits
    are balanced by construction (hash-spread conversations, row-group
    splitting for oversized buckets) and the salting exchange is skipped —
    the plan becomes scan -> MapInPandas -> write with zero Exchange.
    Anything else falls back to :func:`salted_repartition`."""
    if meta and meta.get("bucketed_by") == "conv_id" and (
            num_partitions is None or meta.get("buckets", 0) >= num_partitions):
        return df
    return salted_repartition(df, num_partitions)
