"""Resumable extraction runs: bucketed checkpoints with lineage + metrics.

The north rule requires runs "resumable from per-partition checkpoints with
lineage and match-count metrics written alongside each commit".  Design:

* the input splits into B deterministic buckets by the ``_bucket`` column
  of ``plans.bucketing`` (``pmod(hash(conv_id), B)``);
* **stage 0** materializes the input ONCE, partitioned by bucket, under
  ``out/_input/`` (manifest-guarded, so a resume skips it).  Each bucket job
  then reads only its own partition directory via partition pruning — total
  input bytes per run is ~2x the table (one bucketize pass + the sum of the
  pruned per-bucket reads) instead of B full scans.  An input that already
  carries ``_bucket`` (a ``write_bucketed`` table, read back) skips stage 0
  entirely — the filter prunes at the source scan;
* each bucket runs extract -> write ``out/bucket=<b>/`` in ONE pass: row and
  match counts come from ``Observation`` metrics attached to the write job,
  never from a second action over the extraction (round-1 version computed
  extraction twice per bucket — fixed per VERDICT.md item 4);
* a committed bucket writes ``manifest_<b>.json`` (input path, bucket id,
  row/match counts, wall time, engine version) — the lineage record;
* a re-run skips buckets whose manifest exists and is complete.

At cluster scale each bucket is itself many tasks; the bucket loop is
orchestration (a handful of driver-side job submissions), not row work.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import __version__
from ..pipeline import DEFAULT_FEATURES, extract
from .bucketing import BUCKET_COL, with_bucket


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, f"manifest_{bucket:04d}.json")


def _read_committed(path: str) -> dict | None:
    if os.path.exists(path):
        with open(path) as fh:
            m = json.load(fh)
        if m.get("status") == "committed":
            return m
    return None


def _refuse_out_of_range(src: DataFrame, buckets: int) -> None:
    """The bucket loop reads ``_bucket`` values 0..buckets-1 only: refuse a
    pre-bucketed input with any other value (a NULL included) before a
    manifest commits without its rows.  The filter is on the partition
    column, so the probe prunes to the offending directories."""
    bucket = F.col(BUCKET_COL)
    bad = src.filter(~bucket.between(0, buckets - 1) | bucket.isNull())
    if bad.limit(1).count():
        found = sorted((r[0] for r in bad.select(bucket).distinct().collect()),
                       key=lambda v: (v is not None, v))
        raise ValueError(
            f"input bucketed outside this run's buckets={buckets}: "
            f"{BUCKET_COL} values {found} would never be read — pass the "
            f"table's own bucket count")


def run_resumable(df: DataFrame, out_dir: str, buckets: int = 16,
                  input_desc: str = "", verify_input: bool = True,
                  extract_kwargs: dict | None = None) -> list[dict]:
    """Extract ``df`` in ``buckets`` resumable units with every feature
    (``DEFAULT_FEATURES``, recorded in each manifest); returns manifests.

    An input that carries the ``_bucket`` column (``spark.read.parquet``
    of a ``write_bucketed`` table) is already bucketed: stage 0 is
    skipped, the per-bucket filter prunes at the source scan, and a
    ``_bucket`` value outside 0..buckets-1 raises before any bucket runs.

    ``extract_kwargs``: extra keyword args forwarded to ``extract`` per
    bucket (gazetteer/postal/taxcat paths) — the job-param
    plumbing the conversation-scope pass rides on.

    ``verify_input``: on resume over a committed stage-0 bucketize, compare
    ``df.count()`` against the row count recorded in input_manifest.json
    and refuse a silent resume against a CHANGED source (review finding:
    keying only on bucket count + free-text desc reused a stale bucketized
    copy).  count() over a parquet/Iceberg source is metadata-only; pass
    ``verify_input=False`` for expensive computed inputs where the caller
    owns input identity.
    """
    os.makedirs(out_dir, exist_ok=True)
    if BUCKET_COL in df.columns:
        _refuse_out_of_range(df, buckets)
        src = df
    else:
        # stage 0: one full scan, written partitioned by bucket
        in_dir = os.path.join(out_dir, "_input")
        stage0_path = os.path.join(out_dir, "input_manifest.json")
        stage0 = _read_committed(stage0_path)
        if stage0 is not None and stage0.get("buckets") != buckets:
            # resuming with a different bucket count over a committed
            # bucketize would silently skip (or double-read) buckets
            raise ValueError(
                f"resume bucket-count mismatch: {out_dir} was bucketized "
                f"with buckets={stage0.get('buckets')}, this run asked for "
                f"{buckets} — pass the original count or use a fresh out_dir")
        if stage0 is not None and verify_input and \
                stage0.get("input_rows") is not None:
            n_now = df.count()
            if n_now != stage0["input_rows"]:
                raise ValueError(
                    f"resume input mismatch: {out_dir} was bucketized from "
                    f"{stage0['input_rows']} rows, current source has "
                    f"{n_now} — the source changed; use a fresh out_dir "
                    f"(or verify_input=False to override)")
        if stage0 is None:
            t0 = time.time()
            obs0 = Observation("bucketize")
            (with_bucket(df, buckets)
               .observe(obs0, F.count(F.lit(1)).alias("rows"))
               .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(in_dir))
            with open(stage0_path, "w") as fh:
                json.dump({"status": "committed", "stage": "bucketize",
                           "buckets": buckets, "input": input_desc,
                           "input_rows": int(obs0.get["rows"] or 0),
                           "engine_version": __version__,
                           "wall_sec": round(time.time() - t0, 3)}, fh)
        src = df.sparkSession.read.parquet(in_dir)

    manifests = []
    for b in range(buckets):
        mpath = _manifest_path(out_dir, b)
        m = _read_committed(mpath)
        if m is not None:
            if m.get("buckets") != buckets:
                raise ValueError(
                    f"bucket manifest {mpath} was committed under "
                    f"buckets={m.get('buckets')}, this run asked for {buckets}")
            manifests.append(m)
            continue
        t0 = time.time()
        part = src.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
        obs = Observation(f"bucket_{b}")
        result = extract(part, features=DEFAULT_FEATURES,
                         **(extract_kwargs or {})).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.size("matches")).alias("matches"))
        result.write.mode("overwrite").parquet(os.path.join(out_dir, f"bucket={b}"))
        metrics = obs.get  # populated by the write job — no second action
        manifest = {
            "status": "committed",
            "bucket": b,
            "buckets": buckets,
            "input": input_desc,
            "engine_version": __version__,
            "features": list(DEFAULT_FEATURES),
            "rows": int(metrics["rows"] or 0),
            "matches": int(metrics["matches"] or 0),
            "wall_sec": round(time.time() - t0, 3),
        }
        with open(mpath, "w") as fh:
            json.dump(manifest, fh)
        manifests.append(manifest)
    return manifests


def read_manifests(out_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("manifest_") and name.endswith(".json"):
            with open(os.path.join(out_dir, name)) as fh:
                out.append(json.load(fh))
    return out


def read_resumable_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))
