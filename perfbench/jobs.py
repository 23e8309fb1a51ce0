"""The Spark jobs the benchmark times, built only from the engine's public
functions."""

from __future__ import annotations

OUT_COLS = ["conv_id", "turn_idx", "main_text", "matches"]


def extraction_plan(spark, in_path: str, slots: int):
    """The production job: read -> salted repartition -> extract ->
    per-partition (conv_id, turn_idx) order."""
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import read_transcripts

    df = salted_repartition(read_transcripts(spark, in_path), 2 * slots)
    return (extract(df, DEFAULT_FEATURES).select(*OUT_COLS)
            .sortWithinPartitions("conv_id", "turn_idx"))


def run_extraction(spark, in_path: str, out_path: str | None,
                   slots: int = 4) -> None:
    w = extraction_plan(spark, in_path, slots).write.mode("overwrite")
    if out_path is None:
        w.format("noop").save()
    else:
        w.parquet(out_path)


def dedup_ops(docs) -> dict:
    """The corpus pipeline: five operators over one documents frame."""
    from xponents_spark.operators import exact_dedup, minhash_near_dups
    from xponents_spark.operators.dedup import (duplicated_spans,
                                                winnow_near_dups)
    from xponents_spark.operators.textstats import gopher_quality_filter_full
    return {"exact": exact_dedup(docs), "minhash": minhash_near_dups(docs),
            "winnow": winnow_near_dups(docs), "spans": duplicated_spans(docs),
            "gopher": gopher_quality_filter_full(docs)}
