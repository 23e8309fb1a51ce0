"""The traced run: per-layer metrics for one workload's generated input.

Every traced run measures every layer over its own workload's data, so the
same metric names appear on every workload:

* extraction job (Spark): stage and task metrics of the production job,
  the same plan into a noop sink (write cost), a scan-only and a
  scan+exchange job (scan and exchange cost), and one single-slot run
  (parallel efficiency and the in-process reconciliation);
* extraction worker (in-process): ``layers.layer_metrics``;
* conversation-scoped pass: ``pipeline.extract_conversation_scoped`` into
  a fresh checkpoint directory, its manifests and its output check;
* operators: the five dedup/quality operators, each collected to the
  driver, over the seeded operator corpus (``workloads.OPS_CORPUS``), and
  the check of what they returned (planted twins, DuckDB count).
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time

from statistics import median

import checks
import harness
import layers
import workloads

UNITS = {
    "textract.us_per_row": "us", "textract.chars_kept_frac": "ratio",
    "xcoord.us_per_row": "us", "xcoord.matches_per_krow": "count/krow",
    "xcoord.kept_frac": "ratio",
    "xtemporal.us_per_row": "us", "xtemporal.matches_per_krow": "count/krow",
    "xtemporal.kept_frac": "ratio",
    "poli.us_per_row": "us", "poli.matches_per_krow": "count/krow",
    "poli.kept_frac": "ratio",
    "gazetteer.tag_us_per_row": "us", "gazetteer.geocode_us_per_row": "us",
    "gazetteer.revgeo_us_per_row": "us",
    "gazetteer.cands_per_row": "count/row", "gazetteer.emitted_frac": "ratio",
    "gazetteer.tag_limit_rows": "count",
    "pipeline.extract_turn_us_per_row": "us",
    "pipeline.assembly_us_per_row": "us",
    "pipeline.matches_per_row": "count/row",
    "pipeline.map_stage_s": "s", "pipeline.task_s_p50": "s",
    "pipeline.task_s_max": "s", "pipeline.skew": "ratio",
    "pipeline.gc_frac": "ratio", "pipeline.overhead_us_per_row": "us",
    "pipeline.parallel_eff": "ratio",
    "pipeline.map_stage_1slot_us_per_row": "us",
    "pipeline.recon_stage_us_per_row": "us",
    "pipeline.plumbing_us_per_row": "us",
    "pipeline.reconcile_ratio": "ratio",
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "plans.exchange_s": "s", "plans.exchange_write_mb": "MB",
    "plans.write_s": "s", "plans.out_bytes_per_row": "B/row",
    "plans.checkpoints.stage0_s": "s",
    "plans.checkpoints.bucket_job_s_p50": "s",
    "plans.checkpoints.jobs": "count",
    "pipeline.convscope_redo_frac": "ratio",
    "pipeline.convscope_changed_frac": "ratio",
    "pipeline.convscope_pass1_s": "s", "pipeline.convscope_pass2_s": "s",
    "operators.dedup.exact_s": "s", "operators.dedup.minhash_s": "s",
    "operators.dedup.winnow_s": "s", "operators.dedup.spans_s": "s",
    "operators.textstats.gopher_s": "s", "operators.shuffle_mb": "MB",
    "operators.task_skew": "ratio", "operators.dedup.pairs_out": "count",
    "session.start_s": "s", "session.cold_job_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "trace.rows_per_s_traced": "rows/s",
    "trace.rows_per_s_untraced": "rows/s",
}

MB = 2 ** 20
RECONCILE_ROUNDS = 5


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*.parquet"),
                         recursive=True))


def _timed_group(spark, group: str, fn) -> float:
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _extraction(spark, turns_path: str, rows: int, tracer, work: str) -> dict:
    from jobs import run_extraction
    from xponents_spark.plans import salted_repartition
    from xponents_spark.sources import read_transcripts

    sc = spark.sparkContext
    out_path = os.path.join(work, "traced_out")
    walls = {}
    with tracer.span("extraction", rows=rows):
        for kind, fn in (
                ("parquet", lambda: run_extraction(spark, turns_path,
                                                   out_path)),
                ("noop", lambda: run_extraction(spark, turns_path, None)),
                ("scan", lambda: read_transcripts(spark, turns_path)
                 .write.mode("overwrite").format("noop").save()),
                ("exch", lambda: salted_repartition(
                    read_transcripts(spark, turns_path), 8)
                 .write.mode("overwrite").format("noop").save())):
            with tracer.span(f"extraction.{kind}"):
                walls[kind] = _timed_group(spark, f"x.{kind}", fn)
        stages = harness.group_stages(sc, "x.parquet")
    mapped = max((s for s in stages if s["shuffleReadBytes"] > 0),
                 key=lambda s: s["executorRunTime"])
    p50 = max(mapped["task_run_p50_s"], 1e-3)
    wall4 = walls["parquet"]
    return {
        "pipeline.map_stage_s": harness.stage_wall_s(mapped),
        "pipeline.task_s_p50": mapped["task_run_p50_s"],
        "pipeline.task_s_max": mapped["task_run_max_s"],
        "pipeline.skew": mapped["task_run_max_s"] / p50,
        "pipeline.gc_frac":
            mapped["jvmGcTime"] / max(1, mapped["executorRunTime"]),
        "sources.scan_s": walls["scan"],
        "sources.input_mb": _dir_bytes(turns_path) / MB,
        "plans.exchange_s": walls["exch"] - walls["scan"],
        "plans.exchange_write_mb":
            sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "plans.write_s": wall4 - walls["noop"],
        "plans.out_bytes_per_row": _dir_bytes(out_path) / rows,
        "spark.jobs": harness.group_jobs(sc, "x.parquet"),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "trace.rows_per_s_traced": rows / wall4,
        "_wall4": wall4,
    }


def _convscope(spark, turns_path: str, cols: dict, seed: int, tracer,
               work: str) -> dict:
    from xponents_spark.pipeline import extract_conversation_scoped
    from xponents_spark.plans import read_manifests
    from xponents_spark.sources import read_transcripts

    ckpt = os.path.join(work, "convscope")
    out_path = os.path.join(work, "convscope_out")
    rows = len(cols["text"])
    with tracer.span("convscope", rows=rows) as sp:
        spark.sparkContext.setJobGroup("convscope", "convscope")
        t0 = time.perf_counter()
        res = extract_conversation_scoped(read_transcripts(spark, turns_path),
                                          work_dir=ckpt, buckets=4)
        t1 = time.perf_counter()
        res.write.mode("overwrite").parquet(out_path)
        t2 = time.perf_counter()
        with open(os.path.join(ckpt, "input_manifest.json")) as fh:
            stage0 = json.load(fh)["wall_sec"]
        buckets = [m["wall_sec"] for m in read_manifests(ckpt)]
        checked, failed, detail, n = checks.check_convscope(
            out_path, ckpt, cols, seed)
        sp["counts"].update(failed=failed, **n)
    print(f"convscope check: {detail}", file=sys.stderr)
    return {
        "plans.checkpoints.stage0_s": stage0,
        "plans.checkpoints.bucket_job_s_p50": median(buckets),
        "plans.checkpoints.jobs":
            harness.group_jobs(spark.sparkContext, "convscope"),
        "pipeline.convscope_redo_frac": n["redo"] / rows,
        "pipeline.convscope_changed_frac": n["changed"] / rows,
        "pipeline.convscope_pass1_s": t1 - t0,
        "pipeline.convscope_pass2_s": t2 - t1,
        "_checked": checked, "_failed": failed,
    }


def _operators(spark, seed: int, tracer, work: str) -> dict:
    """Each operator's output collected to the driver (every output is at
    most one row per document), timed under its own job group, then
    checked."""
    from jobs import dedup_ops

    sc = spark.sparkContext
    cols = workloads.ops_corpus(seed)
    docs_path = workloads.write_table(workloads.to_table(cols),
                                      os.path.join(work, "ops_corpus"))
    walls, out = {}, {}
    with tracer.span("operators", rows=len(cols["doc_id"])) as sp:
        for name, df in dedup_ops(spark.read.parquet(docs_path)).items():
            sc.setJobGroup(f"ops.{name}", name)
            t0 = time.perf_counter()
            out[name] = df.collect()
            walls[name] = time.perf_counter() - t0
        spark.catalog.clearCache()      # minhash/winnow cache their inputs
        stages = [s for name in walls
                  for s in harness.group_stages(sc, f"ops.{name}")]
        checked, failed, detail = checks.check_dedup(
            out, docs_path, cols, workloads.OPS_CORPUS["plant_offset"],
            workloads.OPS_CORPUS["planted_pairs"])
        sp["counts"].update(failed=failed)
    print(f"operators check: {detail}", file=sys.stderr)
    hot = max(stages, key=lambda s: s["executorRunTime"])
    return {
        "operators.dedup.exact_s": walls["exact"],
        "operators.dedup.minhash_s": walls["minhash"],
        "operators.dedup.winnow_s": walls["winnow"],
        "operators.dedup.spans_s": walls["spans"],
        "operators.textstats.gopher_s": walls["gopher"],
        "operators.shuffle_mb":
            sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "operators.task_skew":
            hot["task_run_max_s"] / max(hot["task_run_p50_s"], 1e-3),
        "operators.dedup.pairs_out": len(out["minhash"]) + len(out["winnow"]),
        "_checked": checked, "_failed": failed,
    }


def _identity_plan(df):
    """``extract``'s plan shape with the extraction taken out: the same
    mapInPandas over the same input columns and output schema, each row
    passed through with empty matches.  Its cost is Arrow transfer and
    worker plumbing."""
    from xponents_spark.pipeline import extraction_output_schema

    def passthrough(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["main_text"] = pdf["text"]
            pdf["matches"] = [[] for _ in range(len(pdf))]
            yield pdf
    return df.mapInPandas(passthrough,
                          schema=extraction_output_schema(df.schema))


def _run_s(spark, group: str, plan, path: str) -> float:
    """Summed task run time of one job: ``plan`` over the turns at
    ``path`` into a noop sink."""
    from xponents_spark.sources import read_transcripts
    spark.sparkContext.setJobGroup(group, group)
    plan(read_transcripts(spark, path)).write.mode("overwrite") \
        .format("noop").save()
    return sum(s["executorRunTime"] for s in
               harness.group_stages(spark.sparkContext, group)) / 1000


def _single_slot(spark, turns_path: str, rows: int, sample_path: str,
                 sample: dict, tracer, work: str) -> dict:
    """One slot.  First the reconciliation over the in-process layer
    sample: ``extract`` into a noop sink with no exchange or sort, the
    same plan with the extraction taken out, and in-process
    ``extract_turn`` over the same turns, in RECONCILE_ROUNDS rounds
    (recorded on the span).  Then one production job, for the parallel
    efficiency."""
    from jobs import run_extraction
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract, extract_turn

    def ext(df):
        return extract(df, DEFAULT_FEATURES)

    texts = sample["text"]
    spark.stop()
    spark = harness.start_spark(1)
    with tracer.span("reconcile", rows=len(texts)) as sp, \
            layers.frozen_heap():
        _run_s(spark, "r.cold", ext, sample_path)
        # interleaved rounds, each a few seconds long: host drift moves
        # the three terms of one round alike
        recon, plumb, inproc = [], [], []
        for i in range(RECONCILE_ROUNDS):
            recon.append(_run_s(spark, f"r.extract.{i}", ext, sample_path))
            plumb.append(_run_s(spark, f"r.plumb.{i}", _identity_plan,
                                sample_path))
            t0 = time.perf_counter()
            for t in texts:
                extract_turn(t, DEFAULT_FEATURES)
            inproc.append(time.perf_counter() - t0)
            sp["counts"].setdefault("rounds", []).append(
                [recon[-1], plumb[-1], inproc[-1]])
    with tracer.span("single_slot", rows=rows):
        out_path = os.path.join(work, "traced_out_1slot")
        wall1 = _timed_group(spark, "x.1slot", lambda: run_extraction(
            spark, turns_path, out_path, slots=1))
        stage = max((s for s in harness.group_stages(spark.sparkContext,
                                                     "x.1slot")
                     if s["shuffleReadBytes"] > 0),
                    key=lambda s: s["executorRunTime"])
    us = 1e6 / len(texts)
    return {"_wall1": wall1,
            "pipeline.map_stage_1slot_us_per_row":
                harness.stage_wall_s(stage) * 1e6 / rows,
            "pipeline.recon_stage_us_per_row": sum(recon) * us / len(recon),
            "pipeline.plumbing_us_per_row": sum(plumb) * us / len(plumb),
            # the summed worker layers (= extract_turn) plus the plumbing
            # term, against the single-slot extraction stage, pooled over
            # the rounds
            "pipeline.reconcile_ratio":
                (sum(inproc) + sum(plumb)) / sum(recon)}


def per_layer(spark, workload: str, seed: int, inp: dict, m: dict, tracer,
              work: str) -> dict:
    spec = workloads.SPECS[workload]
    turns_path, turn_cols = inp["path"], inp["cols"]
    rows = inp["rows"]
    out = {"session.start_s": m["setup"][0],
           "session.cold_job_s": m["setup"][1]}

    out.update(_extraction(spark, turns_path, rows, tracer, work))
    rng = random.Random(f"layers:{seed}")
    picks = sorted(rng.sample(range(rows), min(spec["layer_rows"], rows)))
    sample = {k: [turn_cols[k][i] for i in picks]
              for k in ("conv_id", "turn_idx", "text")}
    sample_path = workloads.write_table(
        workloads.to_table(sample), os.path.join(work, "layer_sample"),
        files=1)
    out.update(layers.layer_metrics(sample["text"], tracer))
    conv = _convscope(spark, turns_path, turn_cols, seed, tracer, work)
    ops = _operators(spark, seed, tracer, work)
    checked = conv.pop("_checked") + ops.pop("_checked")
    failed = conv.pop("_failed") + ops.pop("_failed")
    out.update(conv)
    out.update(ops)
    out.update(_single_slot(spark, turns_path, rows, sample_path, sample,
                            tracer, work))

    # the workload's own timed jobs ran with spans only: the untraced side
    # of the tracing-overhead pair
    out["trace.rows_per_s_untraced"] = rows / median(m["walls"])
    wall4, wall1 = out.pop("_wall4"), out.pop("_wall1")
    out["pipeline.parallel_eff"] = wall1 / (4 * wall4)
    out["pipeline.overhead_us_per_row"] = (
        4 * out["pipeline.map_stage_s"] * 1e6 / rows
        - out["pipeline.extract_turn_us_per_row"])
    out["_checked"], out["_failed"] = checked, failed
    return out
