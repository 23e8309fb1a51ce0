"""Structured Streaming variant of the extraction pipeline.

The reference has no streaming (REST request/response only,
XponentsGeotagger.java:150-198); this is the Spark-native growth path: the
same single-stage Arrow extraction applied to a stream —
``readStream -> mapInPandas(extract) -> writeStream`` — plus a
per-conversation state counter and inactivity-gap session spans.
``extract()`` composes unchanged because it is one stateless mapInPandas
stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import DEFAULT_FEATURES, extract
from ..schemas import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """Stream a growing directory of transcript parquet files."""
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def start_extraction_sink(stream_df: DataFrame, out_dir: str,
                          checkpoint_dir: str, features=DEFAULT_FEATURES,
                          available_now: bool = True):
    """readStream -> extract -> append parquet with exactly-once checkpoints
    (the streaming counterpart of plans.run_resumable)."""
    writer = (extract(stream_df, features=features)
              .writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def conversation_state_stream(stream_df: DataFrame,
                              features=("content", "coordinates", "dates")) -> DataFrame:
    """Custom stateful operator: per-conversation running extraction stats.

    The stream is ``extract`` (the batch stage, run in the scan's map
    tasks and tagging against the job's reference tables like any
    ``extract`` job), projected to each turn's match count.
    ``applyInPandasWithState`` then only counts: it keeps (n_turns,
    n_matches, max_turn_idx) per conv_id across micro-batches and emits
    the updated row each time a conversation receives turns — the
    streaming analog of the per-document scope state the reference
    rebuilds per request.
    """
    import pandas as pd  # noqa: F811

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_matches", T.LongType(), False),
        T.StructField("max_turn_idx", T.IntegerType(), False),
    ])
    state_schema = T.StructType(out_schema.fields[1:])

    def update(key, pdf_iter, state):
        n_turns, n_matches, max_idx = (state.get if state.exists else (0, 0, -1))
        for pdf in pdf_iter:
            n_turns += len(pdf)
            n_matches += int(pdf["n_matches"].sum())
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_matches, max_idx))
        yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n_turns],
                            "n_matches": [n_matches], "max_turn_idx": [max_idx]})

    return (extract(stream_df, features=features)
            .select("conv_id", "turn_idx",
                    F.size("matches").alias("n_matches"))
            .groupBy("conv_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def session_spans(df: DataFrame, key_col: str = "conv_id",
                  ts_col: str = "ts", gap_seconds: int = 1800,
                  watermark: str | None = None) -> DataFrame:
    """Inactivity-gap session spans via Spark's native ``session_window``
    — the streaming twin of ``operators.sessions.sessionize`` (same gap
    rule; runs on batch DataFrames too).  Emits
    (key, session_start, session_end, n_turns); ``session_end`` is the
    last event + gap, per session-window semantics.  Pass ``watermark``
    on a stream so closed sessions finalize and state is evicted.

    Boundary note: ``session_window`` starts a NEW session when the gap
    equals ``gap_seconds`` exactly; the batch ``sessionize`` keeps the
    row (strict `>` rule).  Real timestamps make exact-boundary gaps
    measure-zero; pick one operator per pipeline if they matter.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.session_window(ts_col, f"{gap_seconds} seconds")
                        .alias("w"), F.col(key_col))
            .agg(F.count("*").alias("n_turns"))
            .select(key_col, F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_turns"))
