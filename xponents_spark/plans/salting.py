"""Skew handling + deterministic ordering.

A 10^6-turn conversation must not pin one task (SURVEY.md §4.3.5).  Because
extraction is per-turn independent, the safe salt is simply to spread rows by
``hash(conv_id, turn_idx)`` — no conversation state is needed until the
optional conversation-scope aggregation pass, which re-shuffles by conv_id
with AQE skew-join handling enabled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Spread turns uniformly regardless of conversation skew.

    ``repartition(hash(conv_id, turn_idx))`` is a full-width round-robin-like
    exchange: long conversations fan out across all tasks.  Catalyst keeps
    the downstream mapInPandas pipelined with the exchange output.
    """
    cols = [F.col("conv_id"), F.col("turn_idx")]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def spread_small_input(df: DataFrame, key_cols: tuple[str, ...] = (),
                       min_partitions: int | None = None,
                       factor: int = 1) -> DataFrame:
    """Scan-parallelism floor for CPU-dense stages over SMALL inputs.

    A dimension-sized parquet file (one split under
    ``maxPartitionBytes``/``openCostInBytes`` packing) scans as ONE
    partition, so every downstream map-only stage — Arrow codec work,
    explodes, regex chains — runs on ONE core no matter how many the
    session has (guide §2.5 "input skew … repartition immediately after
    the read", §6 split sizing).  This helper hash-repartitions such
    inputs to ``factor``× the session's parallelism (default 1×: for
    the light Arrow stages these inputs feed, per-task worker/Arrow
    overhead outweighs straggler smoothing — measured at sf0.1, the
    image-codec stage ran 0.95 s at 32 partitions vs 1.16 s at 64, and
    a light Arrow stage over 4,000 rows at ``local[4]`` on a 4-vCPU host
    takes ~0.6 s longer at 36 tasks than at 4; raise ``factor`` for
    stages with heavy per-row skew) and is a NO-OP
    whenever the plan already carries at least ``defaultParallelism``
    partitions — i.e. at cluster scale,
    where the scan's own splits provide the parallelism and an extra
    exchange of the corpus would be pure cost.

    The partition key is deterministic (hash of ``key_cols``, default
    every column of the frame) per guide §2.5: a rand()-derived key
    re-rolls under task retry and can duplicate/lose rows.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if min_partitions is None:
        min_partitions = max(par * factor, 8)
    if df.rdd.getNumPartitions() >= par:
        return df
    cols = [F.col(c) for c in (key_cols or df.columns)]
    return df.repartition(min_partitions, *cols)


def ordered_output(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) global ordering for output/verify parity
    (the north rule's 'stable turn ordering').  A total sort is a range
    exchange — only apply at the final write/collect."""
    return df.orderBy("conv_id", "turn_idx")
