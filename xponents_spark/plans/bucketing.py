"""The bucket layout: the one module that knows how turns map to buckets.

A bucketed transcript table is parquet partitioned by ``_bucket``,
``pmod(hash(conv_id), buckets)`` (:func:`with_bucket`; Spark's ``hash()``,
not the Murmur3 of Iceberg's hidden ``bucket()`` transform).
:func:`write_bucketed` and the resumable runs' stage 0 both build it here;
``plans.run_resumable`` treats an input carrying ``_bucket`` as bucketed.

Over such a table the flagship pipeline's only exchange — the
skew-salting repartition — is redundant: extraction is per-turn
independent, so any balanced physical layout feeds the Arrow stage
directly and the whole job is

    scan -> project -> MapInPandas -> (sortWithinPartitions) -> write

with ZERO Exchange nodes.  The bucket count rides a sidecar JSON next to
the parquet dir (``_bucket_meta.json``, the stand-in for a catalog's
partition spec).  ``prepare_input`` is the single entry point: given a
DataFrame and the metadata (or None), it either trusts the layout and
skips the salt, or applies ``salted_repartition`` — the plan adapts to
the table's physical layout, as a Catalyst rule would for a bucketed scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .salting import salted_repartition

BUCKET_COL = "_bucket"
_META_NAME = "_bucket_meta.json"


def with_bucket(df: DataFrame, buckets: int) -> DataFrame:
    """``df`` plus its ``_bucket`` column, ``pmod(hash(conv_id), buckets)``:
    every turn of one conversation lands in the same bucket."""
    return df.withColumn(BUCKET_COL,
                         F.pmod(F.hash(F.col("conv_id")), F.lit(buckets)))


def write_bucketed(df: DataFrame, path: str, buckets: int) -> dict:
    """Materialize ``df`` physically bucketed by :func:`with_bucket` and
    record the layout in a sidecar.

    One row-group-aligned file per bucket: rows of one conversation land in
    exactly one bucket, so a later conv-scope pass can prune or co-join
    without a shuffle."""
    # directory-per-bucket, NOT repartition(buckets, bcol): hashing the
    # bucket VALUE into `buckets` partitions collides (~1/e of partitions
    # empty, others holding 2-3 buckets — measured 23 skewed files for 64
    # buckets, 5x row skew).  partitionBy guarantees every bucket its own
    # directory with ~uniform bytes; the repartition below just bounds
    # files-per-directory.
    (with_bucket(df, buckets)
       .repartition(buckets, F.col(BUCKET_COL))
       .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path))
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
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)     # layout detail, not data (a narrow
    return df, bucket_metadata(path)  # projection — no exchange)


def prepare_input(df: DataFrame, meta: dict | None = None) -> DataFrame:
    """The flagship pipeline's input stage: salt unless the table's layout
    already spreads conversations.

    ``meta`` from :func:`bucket_metadata`: when it declares bucketing by
    ``conv_id``, the scan's own splits are balanced by construction
    (hash-spread conversations, row-group splitting for oversized buckets)
    and the salting exchange is skipped — the plan becomes
    scan -> MapInPandas -> write with zero Exchange.  Anything else falls
    back to :func:`salted_repartition`."""
    if meta and meta.get("bucketed_by") == "conv_id":
        return df
    return salted_repartition(df)
