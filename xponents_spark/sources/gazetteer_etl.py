"""Gazetteer ETL (SURVEY.md §2.1 S5) — raw name rows -> taggable gazetteer.

The reference conditions raw source gazetteers through dedup + heuristics
before indexing (``solr/build.sh`` steps; ``PlaceHeuristics`` in
``doc/pydoc/opensextant/gazetteer.html`` L1582-1723):

* ``location_bias`` (-> ``id_bias``): "70% population, 30% feature type",
  feature gradient A, P ... U with a population gradient on top;
* ``name_bias``: long/multi-word/non-ASCII names up, stopword collisions and
  trivial short lowercase names negative; codes/abbreviations neutral;
  ``search_only = name_bias < 0`` — negative names stay in the gazetteer but
  are never tagged;
* the tagger's taggable subset: ``NOT search_only AND (name_type IN (N, A)
  OR (name_type = C AND feat_class = A))`` (GazetteerMatcher.java:151-163 fq).

This is the Spark-native rewrite: one window dedup + pure JVM CASE
expressions (whole-stage codegen, no Python).  The population gradient is
pinned as an integer step function so the result is bit-identical across
engines (the reference uses log-scale floats; steps at decade boundaries
express the same gradient deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# trivially-colliding names that must come out negative (TagFilter
# non-placenames semantics; tiny deterministic subset for the ETL contract)
DEFAULT_STOPNAMES = ("in", "of", "the", "a", "an", "on", "to", "so", "no",
                     "us", "ma", "hi", "ok", "mobile", "best", "church")


def gazetteer_etl(raw: DataFrame,
                  stopnames: tuple[str, ...] = DEFAULT_STOPNAMES) -> DataFrame:
    """raw(place_id, name, name_type, feat_class, feat_code, cc, adm1, pop)
    -> deduped rows + id_bias + name_bias + search_only, filtered to the
    taggable subset.  Pure DataFrame ops; deterministic."""
    name = F.trim(F.col("name"))
    cols = [
        F.trim("place_id").alias("place_id"), name.alias("name"),
        F.trim("name_type").alias("name_type"),
        F.trim("feat_class").alias("feat_class"),
        F.trim("feat_code").alias("feat_code"),
        F.trim("cc").alias("cc"), F.trim("adm1").alias("adm1")]
    # scale inputs carry coordinates; the toy nation-derived contract input
    # doesn't — pass them through when present so the oracle stays stable
    if "lat" in raw.columns and "lon" in raw.columns:
        cols += [F.col("lat").cast("double").alias("lat"),
                 F.col("lon").cast("double").alias("lon")]
    cols.append(F.col("pop").cast("bigint").alias("pop"))
    r = raw.select(*cols)

    # 1. dedup: one row per (normalized name, geography, feature); the
    #    lowest place_id wins (deterministic, source-order independent)
    w = Window.partitionBy(F.lower("name"), "name_type", "cc", "adm1",
                           "feat_class", "feat_code").orderBy("place_id")
    r = (r.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1).drop("rn"))

    # 2. id_bias = round((7*pop_wt + 3*fc_scale)/10): 70/30 population vs
    #    feature gradient (gazetteer.html L1604, L1625-1631)
    pop_wt = (F.when(F.col("pop") >= 10_000_000, 10)
               .when(F.col("pop") >= 1_000_000, 8)
               .when(F.col("pop") >= 100_000, 6)
               .when(F.col("pop") >= 10_000, 4)
               .when(F.col("pop") >= 1_000, 2)
               .otherwise(0))
    fc_scale = (F.when(F.col("feat_code") == "ADM1", 16)
                 .when(F.col("feat_code").startswith("PCL"), 16)
                 .when(F.col("feat_code") == "PPLC", 15)
                 .when(F.col("feat_code") == "ADM2", 13)
                 .when(F.col("feat_class") == "A", 11)
                 .when(F.col("feat_class") == "P", 10)
                 .otherwise(5))
    id_bias = F.round((7 * pop_wt + 3 * fc_scale) / F.lit(10.0)).cast("int")

    # 3. name_bias: stopword collisions and trivial lowercase shorts are
    #    negative; long / multi-word / non-ASCII names positive; codes 0
    ln = F.length("name")
    is_lower_name = F.col("name") == F.lower("name")
    non_ascii = F.col("name") != F.expr(
        "regexp_replace(name, '[^\\\\x00-\\\\x7F]', '?')")
    # the trivial-lowercase penalty is a LATIN heuristic: caseless scripts
    # (CJK/Arabic/...) always satisfy name == lower(name), so non-ASCII
    # names bypass it — matching the reference's "non-ASCII up" gradient
    # (gazetteer.html PlaceHeuristics; round-2 fix: the old order filtered
    # virtually every short CJK name into search_only)
    name_bias = (
        F.when(F.col("name_type") != "N", F.lit(0))
         .when(F.lower("name").isin(*stopnames), F.lit(-100))
         .when((ln < 5) & is_lower_name & ~non_ascii, F.lit(-50))
         .otherwise(F.lit(10)
                    + F.when(ln >= 10, 20).otherwise(0)
                    + F.when(F.col("name").contains(" "), 10).otherwise(0)
                    + F.when(non_ascii, 10).otherwise(0)))
    out = (r.withColumn("id_bias", id_bias)
            .withColumn("name_bias", name_bias.cast("int"))
            .withColumn("search_only", F.col("name_bias") < 0))

    # 4. taggable subset (the tagger's fq)
    return out.filter(~F.col("search_only")
                      & (F.col("name_type").isin("N", "A")
                         | ((F.col("name_type") == "C")
                            & (F.col("feat_class") == "A"))))


def synthesize_raw_gazetteer(spark, sf_dir: str) -> DataFrame:
    """Deterministic raw-gazetteer input built from the TPC-H ``nation``
    table (SF-invariant): full names, duplicated rows (exercises dedup),
    2-char codes, and trivial lowercase variants (exercises search_only)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.trim("n_name").alias("nm"), "n_nationkey")
    # first-letter capitalization via substr (identical in DuckDB — initcap
    # word-splitting rules differ between engines)
    cap = F.concat(F.upper(F.substring("nm", 1, 1)),
                   F.lower(F.expr("substr(nm, 2)")))
    base = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("place_id"),
        cap.alias("name"),
        F.lit("N").alias("name_type"), F.lit("A").alias("feat_class"),
        F.lit("PCLI").alias("feat_code"),
        F.substring("nm", 1, 2).alias("cc"), F.lit("").alias("adm1"),
        (F.col("n_nationkey").cast("bigint") * 1_000_000).alias("pop"))
    codes = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("place_id"),
        F.substring("nm", 1, 2).alias("name"),
        F.lit("C").alias("name_type"), F.lit("A").alias("feat_class"),
        F.lit("PCLI").alias("feat_code"),
        F.substring("nm", 1, 2).alias("cc"), F.lit("").alias("adm1"),
        (F.col("n_nationkey").cast("bigint") * 1_000_000).alias("pop"))
    trivial = nation.select(
        F.concat(F.lit("T"), F.col("n_nationkey")).alias("place_id"),
        F.lower(F.substring("nm", 1, 4)).alias("name"),
        F.lit("N").alias("name_type"), F.lit("P").alias("feat_class"),
        F.lit("PPL").alias("feat_code"),
        F.substring("nm", 1, 2).alias("cc"), F.lit("").alias("adm1"),
        F.lit(500).cast("bigint").alias("pop"))
    # duplicate the base block to exercise the dedup window
    return base.unionAll(base).unionAll(codes).unionAll(trivial)


def build_tagger_parquet(taggable: DataFrame, path: str) -> None:
    """Taggable gazetteer rows -> the tagger parquet (the compile input).

    Appends ``phrase`` — the name normalized by the MATCHER'S OWN
    tokenization (``matcher.phrase_key``: NFKC fold, per-char CJK, Arabic
    variant fold), so ``mmapstore.build_mmap_artifact`` compiles it with
    zero re-normalization.  With that compile step, the equivalent of the
    reference's Solr index build (solr/build.sh) emitting the FST
    artifact.

    Normalization is python (unicodedata), so it runs as one Arrow-batched
    mapInPandas over the ETL output — a one-time ETL cost (the reference
    pays 25 min for 16.6M NGA rows; this stage does ~1M rows in seconds).
    Rows whose name normalizes to nothing (pure punctuation) are dropped —
    they could never match a token sequence.
    """
    # the runtime store requires the full Place schema; contract inputs
    # without coordinates get explicit nulls
    for c in ("lat", "lon"):
        if c not in taggable.columns:
            taggable = taggable.withColumn(c, F.lit(None).cast("double"))
    write_phrase_parquet(taggable, path)


def _add_phrase(batches):
    from ..gazetteer.matcher import phrase_key
    for pdf in batches:
        pdf = pdf.copy()
        pdf["phrase"] = [phrase_key(n) for n in pdf["name"]]
        yield pdf


def write_phrase_parquet(rows: DataFrame, path: str) -> None:
    """The one phrase writer of the gazetteer and taxcat ETLs: append
    ``phrase`` (``matcher.phrase_key`` of ``name``, one Arrow-batched
    mapInPandas), drop rows whose phrase is empty, write ``path`` and its
    ``_normalization.json`` sidecar."""
    import json
    import os

    from pyspark.sql import types as T

    from ..gazetteer.matcher import NORMALIZATION_VERSION

    schema = T.StructType(rows.schema.fields
                          + [T.StructField("phrase", T.StringType(), False)])
    out = rows.mapInPandas(_add_phrase, schema=schema)
    out.filter("phrase != ''").write.mode("overwrite").parquet(path)
    # sidecar fingerprint: the runtime index refuses artifacts whose phrase
    # column was normalized under different semantics
    with open(os.path.join(path, "_normalization.json"), "w") as fh:
        json.dump({"normalization_version": NORMALIZATION_VERSION}, fh)
