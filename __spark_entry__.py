"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship extraction pipeline over sf0.001 transcripts.
``queries()``      — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``   — DuckDB-equivalent SQL for the correctness gate.

Correctness design: synthetic transcripts derive deterministically from the
``documents`` parquet with fixed entity payloads per ``doc_id % N``
(xponents_spark/sources/payloads.py), so the oracle states expected
extraction output as literal VALUES rows — independent of any regex engine —
including span offsets computed from ``length(text)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xponents_spark import oracle as O
from xponents_spark.operators import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    exact_dedup,
    fingerprint,
    lang_id,
    minhash_near_dups,
    ngram_jaccard_pairs,
    quality_score,
    simhash_near_dups,
    token_stats,
)
from xponents_spark.pipeline import exploded_matches, extract
from xponents_spark.plans import (ordered_output, salted_repartition,
                                  spread_small_input)
from xponents_spark.sources import synthesize_transcripts

SF0001 = "/root/testdata/sf0.001"

_MATCH_BASE_COLS = ["conv_id", "turn_idx", "span_start", "span_end",
                    "matchtext", "label"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: read transcripts -> salted repartition -> one-stage Arrow
    extraction -> stable (conv_id, turn_idx) ordering, over the
    synthesized sf0.001 transcripts.  Dates are judged against the
    engine's one pinned TODAY (``xponents_spark.extractors.TODAY_YEAR`` /
    ``TODAY_EPOCH``).  The zero-shuffle variant over a conv_id-bucketed
    table is ``plans.prepare_input``; ``bench.py`` times it."""
    t = salted_repartition(synthesize_transcripts(spark, SF0001), 8)
    out = extract(t)
    return ordered_output(
        out.select("conv_id", "turn_idx", "role", "tool", "ts",
                   "main_text", "matches"))


# --- query helpers -----------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7: the sf documents table is ONE parquet split, so every Python/
    # explode stage over it otherwise runs as ONE task regardless of core
    # count (measured: image_text_recovery 13.0 s single-task vs 1.7 s
    # spread at local[32]); spread_small_input is a no-op at cluster scale
    return spread_small_input(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        key_cols=("doc_id",))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread (r7): the embeddings table is ~2k vectors and every
    # consumer's python stage is a sub-second batch matmul — measured,
    # the spread exchange + 32-task overhead REGRESSED ann_cosine_topk
    # 0.47 s -> 0.95 s and embedding_near_dups 0.91 s -> ~1.7 s; the
    # single-split scan is the right plan at this operand size
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _transcripts_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized transcripts with the same scan-parallelism floor the
    flagship gets from its salted repartition (the synth derives from the
    single-split documents scan, so extraction otherwise runs 1-task)."""
    return spread_small_input(synthesize_transcripts(spark, sf_dir),
                              key_cols=("conv_id", "turn_idx"))


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract(_transcripts_spread(spark, sf_dir))


def q_transcripts(spark, sf_dir):
    return synthesize_transcripts(spark, sf_dir)


def q_main_content(spark, sf_dir):
    # NOT spread (r7): content-only extraction is ~7 us/turn of python
    # (sf0.1 transcripts, 4-vCPU host) — the 32-task spread overhead
    # (~0.3 s) exceeds the whole single-task stage; full-feature
    # extraction queries (xcoord etc.) DO spread
    t = synthesize_transcripts(spark, sf_dir)
    return extract(t, features=("content",)).select("conv_id", "turn_idx", "main_text")


def q_xcoord(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir), label="coord")
    # cc/adm1/adm1_name/name/place_id/nearest_places: J4 reverse-geocode
    # enrichment (nearest_places = top-5 names, PlaceGeocoder.java:917-941).
    # The array is projected as a '|'-joined scalar: the driver's
    # canonicalization (pandas sort_values over all columns) cannot hash
    # list cells — MATCH_STRUCT keeps the real array<string>.
    return ex.select(*_MATCH_BASE_COLS, "lat", "lon", "prec", "geohash",
                     "cc", "adm1", "adm1_name", "name", "place_id",
                     F.array_join("nearest_places", "|").alias("nearest_places"))


def q_xtemporal(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir), label="date")
    # flags: DateMatch isDistantPast/isFuture classification — joined to a
    # scalar for the driver canonicalizer (see q_xcoord note)
    return ex.select(*_MATCH_BASE_COLS, "date_norm", "epoch", "resolution",
                     F.array_join("flags", "|").alias("flags"))


def q_poli(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir))
    return (ex.filter(F.col("label").isin("email", "phone", "money", "ip", "url", "mac"))
              .select(*_MATCH_BASE_COLS))


def q_places(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir))
    return (ex.filter(F.col("label").isin("place", "country"))
              .select(*_MATCH_BASE_COLS, "cc", "adm1", "adm1_name",
                      "feat_class", "feat_code", "place_id", "name",
                      "alt_place_id", "alt_cc", "alt_conf_delta",
                      "lat", "lon", "confidence"))


def q_postal(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir), label="postal")
    return ex.select(*_MATCH_BASE_COLS, "cc", "adm1", "adm1_name", "name",
                     "place_id", "confidence")


_TAXCAT_GATE_DIR: str | None = None


def _taxcat_gate_parquet(spark) -> str:
    """Taxcat artifact compiled from the embedded lexicons: the gate's
    taxon rows then verify the MMAP-BACKED index path (T4's scale
    artifact, mirroring T1/T5) against the same literal-VALUES oracle —
    output is identical to the embedded path by construction."""
    global _TAXCAT_GATE_DIR
    if _TAXCAT_GATE_DIR is None:
        import tempfile

        from xponents_spark.gazetteer.mmapstore import build_taxcat_mmap
        from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                       embedded_taxcat_df)
        d = tempfile.mkdtemp(prefix="taxcat_gate_")
        build_taxcat_parquet(
            embedded_taxcat_df(spark).repartition(1)
            .sortWithinPartitions("kind", "name"), d + "/taxcat.parquet")
        build_taxcat_mmap(d + "/taxcat.parquet", d + "/taxcat.mmap")
        _TAXCAT_GATE_DIR = d + "/taxcat.mmap"
    return _TAXCAT_GATE_DIR


def q_taxons(spark, sf_dir):
    t = _transcripts_spread(spark, sf_dir)
    out = extract(t, taxcat_parquet=_taxcat_gate_parquet(spark))
    ex = exploded_matches(out)
    return (ex.filter(F.col("label").isin("person", "org", "nationality"))
              .select(*_MATCH_BASE_COLS, "taxon", "catalog", "cc"))


def q_conv_scoped_places(spark, sf_dir):
    """Two-pass conversation-scope extraction; value-oracled since round 3:
    the dominant-country vote, the redo slice, and the pass-2 outcomes are
    all fully determined by the pinned fixtures (oracle.conv_scoped_oracle),
    so the driver hash-checks every row of the rescored output."""
    from xponents_spark.pipeline import extract_conversation_scoped
    out = extract_conversation_scoped(_transcripts_spread(spark, sf_dir))
    ex = exploded_matches(out)
    return (ex.filter(F.col("label").isin("place", "country"))
              .select(*_MATCH_BASE_COLS, "cc", "confidence"))


def q_conv_geography(spark, sf_dir):
    """A1 at conversation scope: per-conversation country mention counts
    (the reference's relevantCountries, rolled up over the conv's turns)."""
    ex = exploded_matches(_extracted(spark, sf_dir))
    return (ex.filter(F.col("label").isin("place", "country"))
              .groupBy("conv_id", "cc").agg(F.count("*").alias("n_mentions")))


def q_country_histogram(spark, sf_dir):
    """A1: corpus-level country mention histogram over geotagged matches."""
    ex = exploded_matches(_extracted(spark, sf_dir))
    return (ex.filter(F.col("label").isin("place", "country"))
              .groupBy("cc").agg(F.count("*").alias("n_mentions")))


def q_label_histogram(spark, sf_dir):
    ex = exploded_matches(_extracted(spark, sf_dir))
    return ex.groupBy("label").agg(F.count("*").alias("n_matches"))


def q_gazetteer_etl(spark, sf_dir):
    """S5: raw name rows -> deduped, bias-scored, taggable gazetteer."""
    from xponents_spark.sources.gazetteer_etl import (
        gazetteer_etl, synthesize_raw_gazetteer)
    return gazetteer_etl(synthesize_raw_gazetteer(spark, sf_dir))


def q_pdf_roundtrip(spark, sf_dir):
    """S1 PDF path: each document rendered to a deterministic PDF (binary
    column), then the text layer recovered by the pure-python extractor —
    output must equal the source text (identity oracle)."""
    from xponents_spark.textract.pdf import make_simple_pdf
    return _payload_roundtrip(spark, sf_dir, [("pdf", make_simple_pdf)]
                              ).select("doc_id", "text")


def _payload_roundtrip(spark, sf_dir, makers, doc_password=None):
    """Shared S1 multi-format roundtrip harness (round 5, VERDICT r4
    item 2): render each document to ONE binary payload per format
    (stage 1), recover every text layer through the production
    convert_binary_docs Arrow stage (stage 2) — identity oracle per
    (doc_id, format) row.  Merging formats into one driver row set keeps
    every format gated inside the driver's query cap."""
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.textract import convert_binary_docs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("format", T.StringType()),
                           T.StructField("payload", T.BinaryType())])

    def mk(batches):
        for pdf in batches:
            ids, fmts, payloads = [], [], []
            for did, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                for name, make_fn in makers:
                    ids.append(did)
                    fmts.append(name)
                    payloads.append(make_fn(t))
            yield pd.DataFrame({"doc_id": ids, "format": fmts,
                                "payload": payloads})

    return (convert_binary_docs(docs.mapInPandas(mk, schema=schema),
                                "payload", "text",
                                doc_password=doc_password)
            .select("doc_id", "format", "text"))


def q_office_roundtrip(spark, sf_dir):
    """S1 office formats, one driver row set with a format column:
    docx (zip+XML), legacy .doc (CFB + [MS-DOC] FIB/CLX piece table),
    legacy .xls (BIFF8 SST with forced Continue-record splits), and
    round-5 xlsx (SpreadsheetML SST resolution in sheet order) + pptx
    (PresentationML DrawingML runs in numeric slide order)."""
    from xponents_spark.textract.office import (make_simple_doc,
                                                make_simple_docx,
                                                make_simple_pptx,
                                                make_simple_xls,
                                                make_simple_xlsx)
    return _payload_roundtrip(spark, sf_dir, [
        ("docx", make_simple_docx),
        ("doc", make_simple_doc),
        ("xls", lambda t: make_simple_xls(t, max_record=512)),
        ("xlsx", make_simple_xlsx),
        ("pptx", make_simple_pptx)])


def q_encrypted_office_roundtrip(spark, sf_dir):
    """S1 encrypted Office, all three generations ([MS-OFFCRYPTO]):
    legacy Word97 RC4 (2.3.6), round-5 agile AES-256-CBC/SHA-512 OOXML
    (2.3.4.10) and standard/CryptoAPI AES-128-ECB/SHA-1 OOXML (2.3.4.5),
    decrypted through the Spark conversion stage with the job-level
    password — identity oracle per (doc_id, format) row."""
    from xponents_spark.textract.agile import (make_agile_encrypted,
                                               make_standard_encrypted)
    from xponents_spark.textract.office import (make_encrypted_doc,
                                                make_simple_docx)
    return _payload_roundtrip(spark, sf_dir, [
        ("doc_rc4", lambda t: make_encrypted_doc(t, "gate-pw")),
        ("docx_agile", lambda t: make_agile_encrypted(
            make_simple_docx(t), "gate-pw", spin_count=1000)),
        ("docx_standard", lambda t: make_standard_encrypted(
            make_simple_docx(t), "gate-pw"))],
        doc_password="gate-pw")


_CONTAINER_HDR = ("Subject: {s} From: a@example.org To: b@example.org "
                  "Date: Wed, 01 Jan 2020 00:00:00 -0000")


def q_container_roundtrip(spark, sf_dir, sample_mod=None):
    """S1 container payloads (XText ArchiveNavigator / MessageConverter
    equivalents, round 5): each document packed into a zip (txt + nested
    docx), a tar.gz, an RFC-822 eml (quoted-printable body + base64 docx
    attachment) and a two-message mbox — exploded by the
    extract_container_entries Arrow stage into one text-recovered row per
    contained document.  11 oracle-pinned rows per doc_id.
    ``sample_mod``: bench-only doc_id % N == 0 subsample (fixture
    construction dominates; the gate always runs the full set)."""
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.textract.containers import (
        extract_container_entries, make_simple_eml, make_simple_mbox,
        make_simple_tgz, make_simple_zip)
    from xponents_spark.textract.office import make_simple_docx

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    if sample_mod:
        docs = docs.filter(F.col("doc_id") % sample_mod == 0)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("container", T.StringType()),
                           T.StructField("payload", T.BinaryType())])

    def mk(batches):
        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for did, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                docx = make_simple_docx(t)
                eml = make_simple_eml("gate", t, [("r.docx", docx)])
                for k, p in (
                        ("zip", make_simple_zip(
                            [("a.txt", t.encode("utf-8")),
                             ("docs/inner.docx", docx)])),
                        ("tgz", make_simple_tgz(
                            [("x/a.txt", t.encode("utf-8"))])),
                        ("eml", eml),
                        ("mbox", make_simple_mbox(
                            [eml, make_simple_eml("gate2",
                                                  "second message body")]))):
                    ids.append(did)
                    kinds.append(k)
                    payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "container": kinds,
                                "payload": payloads})

    return (extract_container_entries(docs.mapInPandas(mk, schema=schema),
                                      "payload")
            .select("doc_id", "container", "entry_path", "entry_status",
                    "entry_kind", "text"))


def q_image_roundtrip(spark, sf_dir):
    """Image codecs, one driver row set with a format column: GIF87a
    (real LZW), 24-bit BMP, PNG (zlib DEFLATE + all 5 filters), round-5
    Adam7 interlaced PNG, and round-6 multi-frame GIF89a animation
    (text recovered from frame 2 via real disposal/transparency
    composition) — each document's text packed into pixels and decoded
    back by the pure-python codec (conformance vs Java ImageIO pinned
    in pytest; the driver gates losslessness over every document's
    bytes)."""
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.operators.multimodal import (
        decode_text_animated_gif, decode_text_bmp, decode_text_gif,
        decode_text_png, make_text_animated_gif, make_text_bmp,
        make_text_gif, make_text_png)

    codecs = [("gif", make_text_gif, decode_text_gif),
              ("bmp", make_text_bmp, decode_text_bmp),
              ("png", make_text_png, decode_text_png),
              ("png_adam7", lambda t: make_text_png(t, interlace=True),
               decode_text_png),
              # round 6: text recovered from frame 2 of a 3-frame GIF89a
              # animation -- requires real disposal/transparency
              # composition (VERDICT r5 item 5)
              ("gif_anim", make_text_animated_gif,
               decode_text_animated_gif)]
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("format", T.StringType()),
                           T.StructField("text", T.StringType())])

    def roundtrip(batches):
        for pdf in batches:
            ids, fmts, texts = [], [], []
            for did, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                for name, mk, dec in codecs:
                    ids.append(did)
                    fmts.append(name)
                    texts.append(dec(mk(t)))
            yield pd.DataFrame({"doc_id": ids, "format": fmts,
                                "text": texts})

    return docs.mapInPandas(roundtrip, schema=schema)


def q_codec_fallback_rate(spark, sf_dir):
    """decoder='auto' fallback-rate metric (VERDICT r4 item 6): codec
    gaps are MEASURED per mime, not silent.  Each document contributes
    one deterministic payload — valid PNG, Adam7 PNG (both real-decode),
    an arithmetic-coded (SOF9) JPEG (declared unsupported -> fallback;
    progressive SOF2 decodes for real since round 5), or a truncated
    GIF (malformed -> fallback) — and the query returns per-(mime,
    decode_path) row counts from the status-bearing Arrow stage."""
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.operators.jpeg import make_jpeg
    from xponents_spark.operators.multimodal import (extract_media_features,
                                                     make_text_gif,
                                                     make_text_png)

    def arithmetic_jpeg(seed: int) -> bytes:
        # baseline fixture with the frame marker patched SOF0 -> SOF9
        # (arithmetic coding): a structurally-real stream the Huffman
        # decoder must refuse
        j = bytearray(make_jpeg(16, 16, seed=seed % 100))
        j[j.index(b"\xff\xc0") + 1] = 0xC9
        return bytes(j)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()))])

    def mk(batches):
        for pdf in batches:
            ids, payloads, metas = [], [], []
            for did, t in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                kind = did % 4
                if kind == 0:
                    p, mime = make_text_png(t), "image/png"
                elif kind == 1:
                    p, mime = make_text_png(t, interlace=True), "image/png"
                elif kind == 2:
                    p, mime = arithmetic_jpeg(int(did)), "image/jpeg"
                else:
                    p, mime = make_text_gif(t)[:30], "image/gif"
                ids.append(did)
                payloads.append(p)
                metas.append({"mime": mime})
            yield pd.DataFrame({"media_id": ids, "payload": payloads,
                                "meta": metas})

    media = docs.mapInPandas(mk, schema=schema)
    out = extract_media_features(media, decoder="auto", with_status=True)
    return out.groupBy("mime", "decode_path").agg(F.count("*").alias("n"))


def q_mp4_sample_schedule(spark, sf_dir):
    """MP4 container parse driver-gated (VERDICT r4 item 5): each
    document seeds a make_minimal_mp4 fixture (n_frames = 4 + doc_id%5,
    fps 5, 32-byte samples); the query parses the REAL ISO-BMFF sample
    tables (stts/stsz/stsc/stco) and projects the exact per-sample
    (timestamp_ms, byte_offset, byte_size) schedule.  The oracle states
    the spec-determined layout arithmetic (first mdat payload byte at
    offset 32) independently of the parser."""
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.operators.mp4 import (make_minimal_mp4, parse_mp4,
                                              sample_table, video_track)

    docs = _docs(spark, sf_dir).select("doc_id")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_idx", T.IntegerType()),
        T.StructField("t_ms", T.IntegerType()),
        T.StructField("byte_offset", T.LongType()),
        T.StructField("byte_size", T.IntegerType())])

    def run(batches):
        for pdf in batches:
            ids, ks, ts, offs, sizes = [], [], [], [], []
            for did in pdf["doc_id"].tolist():
                payload = make_minimal_mp4(n_frames=4 + int(did) % 5,
                                           fps=5, frame_size=32,
                                           seed=int(did))
                track = video_track(parse_mp4(payload))
                for k, (t_ms, off, size) in enumerate(sample_table(track)):
                    ids.append(did)
                    ks.append(k)
                    ts.append(t_ms)
                    offs.append(off)
                    sizes.append(size)
            yield pd.DataFrame({"doc_id": ids, "sample_idx": ks,
                                "t_ms": ts, "byte_offset": offs,
                                "byte_size": sizes})

    return docs.mapInPandas(run, schema=schema)


def q_jpeg_fidelity(spark, sf_dir):
    """Baseline JPEG codec fidelity invariant (JPEG is lossy, so no text
    identity): each document seeds a deterministic gradient image that is
    encoded and decoded by the pure-python baseline codec inside one
    Arrow stage; a row is a VIOLATION when the mean absolute pixel error
    exceeds 4 (measured steady value ~1.9-2.5 on smooth content; two-way
    cross-decode vs Java ImageIO is pinned in pytest).  Violations
    empty."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from xponents_spark.operators.jpeg import decode_jpeg, make_jpeg

    docs = _docs(spark, sf_dir).select("doc_id")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("mean_err", T.DoubleType())])

    def run(batches):
        for pdf in batches:
            ids, errs = [], []
            for did in pdf["doc_id"].tolist():
                seed = int(did) % 251
                y, x = np.mgrid[0:16, 0:24]
                img = np.dstack([
                    np.minimum(x * 9 + seed, 255),
                    np.minimum(y * 13 + seed, 255),
                    np.minimum(x * 2 + y * 3 + seed, 255)]).astype(np.uint8)
                dec = decode_jpeg(make_jpeg(24, 16, pixels=img))
                ids.append(did)
                errs.append(float(np.abs(dec.astype(int)
                                         - img.astype(int)).mean()))
            yield pd.DataFrame({"doc_id": ids, "mean_err": errs})

    return (docs.mapInPandas(run, schema=schema)
            .filter(F.col("mean_err") > 4.0)
            .withColumn("violation", F.lit("jpeg-fidelity")))


def q_exact_dedup(spark, sf_dir):
    """exact_dedup + prefix_dedup in ONE driver row set (same group
    schema, method column distinguishes the key — merged to free a
    driver-cap slot for corpus_split_mix)."""
    from xponents_spark.operators import prefix_dedup
    ex = (exact_dedup(_docs(spark, sf_dir))
          .withColumnRenamed("text_md5", "group_md5")
          .withColumn("method", F.lit("exact")))
    pre = (prefix_dedup(_docs(spark, sf_dir))
           .withColumnRenamed("prefix_md5", "group_md5")
           .withColumn("method", F.lit("prefix")))
    return ex.unionByName(pre)


def q_token_stats(spark, sf_dir):
    """token_stats + quality_score + lang_id joined into ONE driver row
    set (all 1:1 on doc_id; merged to free driver-cap slots for
    sessionize and range_join)."""
    t = token_stats(_docs(spark, sf_dir))
    q = quality_score(_docs(spark, sf_dir)).drop("n_tokens")
    lg = lang_id(_docs(spark, sf_dir))
    return t.join(q, "doc_id").join(lg, "doc_id")


def q_range_join(spark, sf_dir):
    """Range (point-in-interval) join gate: every event matched to the
    3-hour maintenance windows containing it (windows every 12h over the
    30-day event span, derived from integer arithmetic in both engines).
    The DuckDB oracle states the semantics as a plain inequality join;
    the Spark side must produce identical rows through the bucketized
    equi-join plan."""
    from xponents_spark.operators.joins import range_join
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "ts"))
    wins = spark.range(60).select(
        F.col("id").alias("w_id"),
        F.expr("timestamp'2024-01-01 00:00:00'"
               " + make_interval(0,0,0,0, CAST(id * 12 AS INT),0,0)")
         .alias("w_start"),
        F.expr("timestamp'2024-01-01 00:00:00'"
               " + make_interval(0,0,0,0, CAST(id * 12 + 3 AS INT),0,0)")
         .alias("w_end"))
    return (range_join(ev, wins, ts_col="ts", start_col="w_start",
                       end_col="w_end", bucket_seconds=3600)
            .select("event_id", "w_id"))


def q_sessionize(spark, sf_dir):
    """Inactivity-gap sessionization of transcript turns (episode
    segmentation for agent logs): the synthesized ts is uniform, so the
    gate derives a gappy-but-monotone timestamp from turn_idx (a 2-hour
    pause before every 4th turn) that BOTH engines recompute exactly —
    session boundaries then fall on the 30-minute gap rule."""
    from xponents_spark.operators.sessions import sessionize
    t = synthesize_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.expr("timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
               " turn_idx * 37 + floor(turn_idx / 4) * 7200)").alias("ts"))
    return sessionize(t, gap_seconds=1800).select(
        "conv_id", "turn_idx", "session_seq", "session_id")


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    """fingerprint + characterize joined into ONE driver row set (1:1 on
    doc_id; merged to free a driver-cap slot for asof_join)."""
    from xponents_spark.pipeline import characterize
    ch = characterize(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "is_lower", "is_upper", "has_cjk",
        "has_mideast")
    return fingerprint(_docs(spark, sf_dir)).join(ch, "doc_id")


def q_asof_join(spark, sf_dir):
    """As-of join gate: every event picks up the per-user daily tier
    snapshot in force at its timestamp (both engines derive the snapshot
    table from the same integer arithmetic; DuckDB replays the semantics
    with its native ASOF JOIN — two independent implementations,
    value-pinned)."""
    from xponents_spark.operators.joins import asof_join
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "user_id", "ts"))
    snaps = spark.range(150 * 30).select(
        (F.col("id") % 150).alias("user_id"),
        F.expr("timestamp'2024-01-01 00:00:00'"
               " + make_interval(0,0,0, CAST(id / 150 AS INT),0,0,0)")
         .alias("ts"),
        ((F.col("id") % 150 + F.floor(F.col("id") / 150)) % 5).alias("tier"))
    return (asof_join(ev.withColumnRenamed("user_id", "uid"),
                      snaps.withColumnRenamed("user_id", "uid"), on="uid")
            .select("event_id", F.col("uid").alias("user_id"), "tier",
                    "matched_ts"))


def q_remove_spans(spark, sf_dir):
    """ExactSubstr removal half: duplicated spans cut from each doc."""
    from xponents_spark.operators.dedup import remove_duplicated_spans
    return remove_duplicated_spans(_docs(spark, sf_dir), k=8)


def q_gopher_filter(spark, sf_dir):
    """Composed Gopher-family curation gate, BOTH implementations in one
    driver row set with a variant column: the relational (join-based)
    gate and the single-pass ONE-narrow-projection gate (zero shuffle,
    zero joins — the 100 TB shape).  One oracle crossed with the two
    variant labels value-pins the implementations to each other AND to
    the SQL semantics (merged from two rows to free a driver-cap slot)."""
    from pyspark.sql import functions as F

    from xponents_spark.operators.textstats import (
        gopher_quality_filter, gopher_quality_filter_single_pass)
    rel = (gopher_quality_filter(_docs(spark, sf_dir))
           .withColumn("variant", F.lit("relational")))
    sp = (gopher_quality_filter_single_pass(_docs(spark, sf_dir))
          .withColumn("variant", F.lit("single_pass")))
    return rel.unionByName(sp)


def q_c4_quality_filter(spark, sf_dir):
    """The C4 cleaning gate (Raffel et al. 2020 §2.2): line retention +
    page drops in ONE Project (zero Exchange, zero Python), full value
    hash including the retained-line text_clean."""
    from xponents_spark.operators.textstats import c4_quality_filter
    return c4_quality_filter(_docs(spark, sf_dir))


def q_gopher_filter_full(spark, sf_dir):
    """The Gopher gate with the COMPLETE Table-A1 repetition family
    (dup-line-chars, paragraph duplicates, top-3/4-gram, dup-6..10-gram)
    under the published thresholds — the whole nine-signal
    ngram_repetition_stats explode plus paragraph stats value-pinned
    through one SQL oracle."""
    from xponents_spark.operators.textstats import gopher_quality_filter_full
    return gopher_quality_filter_full(_docs(spark, sf_dir))


def q_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup driver invariants over the planted corpus (identical
    twins at vec_id + 1e6):
    I1 every planted twin shares its source's duplicate component
       (identical vectors assign to the same cluster and score cosine
       1.0 >= tau);
    I2 each component keeps EXACTLY one representative;
    I3 a keeper is its own rep (rep_id == vec_id).  Violations empty."""
    from xponents_spark.operators.similarity import semantic_dedup
    out = semantic_dedup(_emb_with_planted(spark, sf_dir),
                         threshold=0.95, n_centroids=8).cache()
    pairs = (out.filter(F.col("vec_id") >= _PLANT_OFFSET)
             .select((F.col("vec_id") - _PLANT_OFFSET).alias("vec_id"),
                     F.col("rep_id").alias("twin_rep")))
    i1 = (out.join(pairs, "vec_id")
          .filter(F.col("rep_id") != F.col("twin_rep"))
          .select("vec_id", F.lit("planted-twin-split").alias("violation")))
    i2 = (out.groupBy("rep_id")
          .agg(F.sum(F.col("keep").cast("int")).alias("n_keep"))
          .filter(F.col("n_keep") != 1)
          .select(F.col("rep_id").alias("vec_id"),
                  F.lit("component-keep-count").alias("violation")))
    i3 = (out.filter(F.col("keep") & (F.col("rep_id") != F.col("vec_id")))
          .select("vec_id", F.lit("keeper-not-rep").alias("violation")))
    return i1.unionByName(i2).unionByName(i3)


def q_duplicated_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-substring spans (Lee et al. 2022):
    maximal per-doc token spans covered by any 8-token substring occurring
    >= 2 times in the corpus."""
    from xponents_spark.operators.dedup import duplicated_spans
    return duplicated_spans(_docs(spark, sf_dir), k=8)


def q_repetition(spark, sf_dir):
    """Gopher-family within-document repetition signals (Rae et al. 2021
    repetition filters): duplicate lines, top 2-gram coverage, duplicate
    5-gram coverage — relational (explode -> groupBy) so it scales."""
    from xponents_spark.operators.textstats import repetition_stats
    return repetition_stats(_docs(spark, sf_dir))


def _queries_from(spark, sf_dir, n=10):
    rows = (_emb(spark, sf_dir).filter(F.col("vec_id") < n)
            .select("vec_id", "embedding").collect())
    return [(int(r["vec_id"]), list(r["embedding"])) for r in rows]


def q_ann_topk(spark, sf_dir):
    qs = _queries_from(spark, sf_dir)
    return (cosine_topk_bruteforce(_emb(spark, sf_dir), qs, k=5)
            .select("query_id", "vec_id", "rank"))


def q_ann_lsh(spark, sf_dir):
    # round 4: L=8 INDEPENDENT tables (bits=8, probes=8) — measured
    # recall@5 0.54 at 25.9% candidate fraction on the structure-free
    # gaussian test embeddings, vs 0.30 at 19% for round 3's single-table
    # multi-probe (VERDICT r3 item 4: independent tables are the recall
    # lever; gaussian 64-dim remains ANN's worst case and IVF the
    # documented scale path for clustered corpora)
    qs = _queries_from(spark, sf_dir)
    return (cosine_topk_lsh(_emb(spark, sf_dir), qs, k=5, bits=8, probes=8,
                            tables=8)
            .select("query_id", "vec_id", "rank"))


def q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN (rows-only: approximate by design);
    n=32/nprobe=8 ~ 25% candidate fraction, recall@10 ~0.65."""
    from xponents_spark.operators.similarity import cosine_topk_ivf
    qs = _queries_from(spark, sf_dir)
    return (cosine_topk_ivf(_emb(spark, sf_dir), qs, k=5,
                            n_centroids=32, nprobe=8)
            .select("query_id", "vec_id", "rank"))


def q_event_hourly(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table: counts,
    integer-cent sums (deterministic across engines), distinct users."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"),
                       F.col("event_type"))
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_cents"),
                   F.countDistinct("user_id").alias("n_users"))
              .select(F.col("w.start").alias("win_start"), "event_type",
                      "n_events", "sum_cents", "n_users"))


def q_characterize(spark, sf_dir):
    from xponents_spark.pipeline import characterize
    return characterize(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "is_lower", "is_upper", "has_cjk", "has_mideast")


_PLANT_OFFSET = 1_000_000
_PLANT_N = 25


def _emb_with_planted(spark, sf_dir):
    """Gate embedding corpus with PLANTED near-duplicates (VERDICT r4
    item 4): the provided test embeddings are unstructured gaussians
    whose max pairwise cosine is ~0.51, so a 0.8-threshold near-dup row
    was vacuously empty.  Planting an exact copy (vec_id + 1e6) of each
    of the first 25 vectors makes the expected pair set DETERMINISTIC:
    identical vectors share every LSH bucket in every table (guaranteed
    candidates), exact verification scores them at cosine 1.0, and no
    natural or copy-cross pair can reach the 0.8 bar."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = (emb.filter(F.col("vec_id") < _PLANT_N)
               .select((F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
                       "embedding"))
    return emb.unionByName(planted)


def q_embedding_near_dups(spark, sf_dir):
    """LSH + exact-verify embedding near-dups over the planted corpus —
    upgraded from rows-only to a full VALUES oracle (the planted pairs
    are the exact expected output; see _emb_with_planted)."""
    from xponents_spark.operators.similarity import embedding_near_dups
    return (embedding_near_dups(_emb_with_planted(spark, sf_dir),
                                threshold=0.8)
            .select("vec_a", "vec_b"))


def q_cosine_pairs(spark, sf_dir):
    """Exact all-pairs cosine ≥ 0.45 (ground truth for the LSH near-dup op)."""
    from xponents_spark.operators.similarity import cosine_pairs_bruteforce
    return cosine_pairs_bruteforce(_emb(spark, sf_dir), threshold=0.45)


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard similarity join (ground truth for the
    MinHash LSH approximation); threshold 0.5 keeps the planted near-dups."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def q_minhash_dedup(spark, sf_dir):
    # NOT spread (r7): the signature stage over this corpus is light
    # enough that the spread exchange is a wash at best (protocol A/Bs
    # flip sign within noise; the same-window interleaved A/B read the
    # raw path 0.09 s faster) — near_dups_all's heavier combined pass
    # keeps the spread via _docs_with_planted_twins
    return minhash_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.2)


def q_winnow_dedup(spark, sf_dir):
    """Winnowing-fingerprint near-dups (Schleimer et al., SIGMOD'03) —
    rows-only (fingerprint sampling is approximate by construction); the
    companion winnow_dup_check invariant is driver-gated."""
    from xponents_spark.operators.dedup import winnow_near_dups
    return winnow_near_dups(_docs(spark, sf_dir), threshold=0.6)


_ND_PLANT_OFFSET = 2_000_000     # disjoint from the embedding plant (1e6)
_ND_PLANT_PAIRS = 25


def _docs_with_planted_twins(spark, sf_dir):
    """Gate document corpus with PLANTED byte-identical twin pairs
    (VERDICT r5 item 1, the same de-vacuification pattern as
    _emb_with_planted): 25 synthetic pairs with PER-PAIR UNIQUE
    vocabulary (tokens like ``plantdup{i}tok{j}`` occur nowhere in the
    generated corpus and nowhere in another pair), so under every scheme
    a planted doc can only pair with its twin — identical text is
    guaranteed-recall in all three (identical MinHash signature collides
    in every band; identical SimHash shares every 16-bit block; identical
    winnowing fingerprint sets join at jaccard 1.0), and disjoint
    vocabulary means no natural or cross-pair candidate can reach any
    operating threshold.  Tokens are md5-hex — unique at the TOKEN level
    for MinHash/SimHash (word features) and overlap-free at the CHAR
    level for winnowing (char-5-gram fingerprints: a shared template
    like 'plantdup{i}' would put cross-pair fp_jaccard near 1.0)."""
    import hashlib
    rows = []
    for i in range(_ND_PLANT_PAIRS):
        text = " ".join(
            hashlib.md5(f"plant{i}:{j}".encode()).hexdigest()[:12]
            for j in range(40))
        rows.append((_ND_PLANT_OFFSET + 2 * i, text))
        rows.append((_ND_PLANT_OFFSET + 2 * i + 1, text))
    planted = spark.createDataFrame(rows, "doc_id long, text string")
    return (_docs(spark, sf_dir).select("doc_id", "text")
            .unionByName(planted))


def q_near_dups_all(spark, sf_dir):
    """All three approximate near-dup schemes, FULL-ORACLE (upgraded from
    rows-only, VERDICT r5 item 1): each scheme runs at its real operating
    threshold over the corpus + planted twin pairs and the result is
    restricted to the planted region, where the expected pair set is
    exact — every (2i, 2i+1) twin at est_jaccard 1.0 / hamming 0 /
    fp_jaccard 1.0, nothing else (per-pair-unique vocabulary).  The
    schemes' behavior on NATURAL near-dups stays pinned by the
    near_dup_invariants row (recall floor vs exact Jaccard truth,
    pigeonhole completeness, winnow identity)."""
    docs = _docs_with_planted_twins(spark, sf_dir)
    mh = (minhash_near_dups(docs, threshold=0.2)
          .select("doc_a", "doc_b", F.lit("minhash").alias("scheme"),
                  F.col("est_jaccard").cast("double").alias("score")))
    sh = (simhash_near_dups(docs, max_hamming=3)
          .select("doc_a", "doc_b", F.lit("simhash").alias("scheme"),
                  F.col("hamming").cast("double").alias("score")))
    from xponents_spark.operators.dedup import winnow_near_dups
    wn = (winnow_near_dups(docs, threshold=0.6)
          .select("doc_a", "doc_b", F.lit("winnow").alias("scheme"),
                  F.col("fp_jaccard").cast("double").alias("score")))
    return (mh.unionByName(sh).unionByName(wn)
            .filter(F.col("doc_a") >= _ND_PLANT_OFFSET))


_ANN_PLANT_OFFSET = 3_000_000
_ANN_PLANT_K = 5


def _emb_with_ann_planted(spark, sf_dir):
    """Gate embedding corpus with 5 EXACT COPIES of each query vector
    (vec_id 3e6 + qid*10 + j): identical bytes hash into the query's own
    bucket in EVERY LSH table and quantize to the query's own nearest
    IVF list, so both approximate schemes retrieve all five with
    probability 1 — recall is provable, not sampled.  All five copies
    tie at the (identical-float) top cosine, far above the natural
    corpus ceiling (~0.52 on the gaussian embeddings), and the published
    rank tie-break (sim desc, vec_id asc) makes the full ranked output
    deterministic: ranks 1..5 = the copies in vec_id order."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = (emb.filter(F.col("vec_id") < 10)
              .select("vec_id", "embedding",
                      F.explode(F.array(*[F.lit(j) for j in
                                          range(_ANN_PLANT_K)])).alias("j"))
              .select((F.lit(_ANN_PLANT_OFFSET) + F.col("vec_id") * 10
                       + F.col("j")).alias("vec_id"), "embedding"))
    return emb.unionByName(copies)


def q_ann_approx_topk(spark, sf_dir):
    """Both approximate ANN schemes (multi-table LSH, IVF), FULL-ORACLE
    (upgraded from rows-only, VERDICT r5 item 1) over the planted-copy
    corpus (_emb_with_ann_planted): top-5 per query is provably the five
    exact copies in vec_id order for BOTH schemes.  Natural-data recall
    stays driver-gated via ann_recall_floors."""
    from xponents_spark.operators.similarity import cosine_topk_ivf
    qs = _queries_from(spark, sf_dir)
    aug = _emb_with_ann_planted(spark, sf_dir)
    lsh = (cosine_topk_lsh(aug, qs, k=5, bits=8, probes=8, tables=8)
           .select("query_id", "vec_id", "rank")
           .withColumn("scheme", F.lit("lsh")))
    ivf = (cosine_topk_ivf(aug, qs, k=5, n_centroids=32, nprobe=8)
           .select("query_id", "vec_id", "rank")
           .withColumn("scheme", F.lit("ivf")))
    return lsh.unionByName(ivf)


def q_near_dup_groups(spark, sf_dir):
    """Survivor selection via connected components (dedup.near_dup_components),
    oracle-checked END-TO-END: pairs are built as a CHAIN through each
    byte-identical group (doc->next doc by id), so the component labels are
    only correct if transitive closure works; the SQL oracle states the
    expected grouping directly with a window over md5(text)."""
    from pyspark.sql import Window

    from xponents_spark.operators.dedup import near_dup_components
    # NOT spread (r7): the chain build re-shuffles by md5(text) anyway and
    # the component rounds are tiny-data joins — spreading the scan only
    # multiplied per-round task overhead (protocol 0.94 s -> ~2 s)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    chain = (docs.select("doc_id", F.lead("doc_id").over(w).alias("doc_b"))
                 .filter(F.col("doc_b").isNotNull())
                 .select(F.col("doc_id").alias("doc_a"), "doc_b"))
    return near_dup_components(chain, docs).select("doc_id", "group_id", "keep")


def q_winnow_dup_check(spark, sf_dir):
    """Invariant: byte-identical docs (exact_dedup groups) MUST be winnowing
    near-dups at fp_jaccard = 1.0 — identical text yields identical
    fingerprint sets.  Violations empty."""
    from xponents_spark.operators.dedup import winnow_near_dups
    docs = _docs(spark, sf_dir)
    groups = (exact_dedup(docs).filter(F.col("n_docs") > 1)
              .select("text_md5"))
    dup_docs = (docs.select("doc_id", F.md5("text").alias("text_md5"))
                    .join(groups, "text_md5"))
    expected = (dup_docs.alias("a")
                .join(dup_docs.alias("b"),
                      (F.col("a.text_md5") == F.col("b.text_md5"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b")))
    found = (winnow_near_dups(docs, threshold=0.999)
             .select("doc_a", "doc_b"))
    return (expected.join(found, ["doc_a", "doc_b"], "left_anti")
            .withColumn("violation", F.lit("identical-docs-not-found")))


def q_simhash_dedup(spark, sf_dir):
    # hamming<=3 is the radius the 4x16-bit block scheme covers completely.
    # NOT spread (r7): the bigram-shingle signature stage is ~0.2 s of
    # python for this corpus — the 32-task spread overhead regressed the
    # row 0.38 s -> 0.73 s (protocol A/B); minhash/winnow DO spread
    return simhash_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), max_hamming=3)


# --- invariant queries: approximate/two-pass ops made driver-checkable ------
# Each returns VIOLATION rows; the oracle states the result is empty (or a
# pinned constant).  This upgrades the round-1 rows-only queries to real
# driver-gate assertions (VERDICT r1 item 8).

def q_conv_scoped_invariants(spark, sf_dir):
    """Two-pass conversation rescore invariants.
    I1: a turn whose matches changed in pass 2 must belong to a conversation
        with >=1 confident country-bearing match in pass 1 (only those
        conversations are eligible for redo).
    I2: for an identical (turn, span, place_id) kept across passes, pass-2
        confidence never drops (the preferred-geography bias only adds)."""
    from xponents_spark.pipeline import (VOTE_CONFIDENCE,
                                         extract_conversation_scoped)
    t = _transcripts_spread(spark, sf_dir)
    keys = ["conv_id", "turn_idx", "span_start", "span_end"]
    ex1 = exploded_matches(extract(t))
    m1 = (ex1.filter(F.col("label").isin("place", "country"))
          .select(*keys, "place_id", "confidence", "cc"))
    m2 = (exploded_matches(extract_conversation_scoped(t))
          .filter(F.col("label").isin("place", "country"))
          .select(*keys, "place_id", "confidence"))
    # eligibility is the engine's vote rule: confident geotags OR
    # reverse-geocoded coordinates (A3 coordinate-inferred scope)
    voted = (ex1.filter(F.col("cc").isNotNull()
                        & ((F.col("label").isin("place", "country")
                            & (F.col("confidence") >= VOTE_CONFIDENCE))
                           | (F.col("label") == "coord")))
             .select("conv_id").distinct())
    changed = (m2.exceptAll(m1.select(*keys, "place_id", "confidence"))
                 .select("conv_id", "turn_idx").distinct())
    i1 = (changed.join(voted, "conv_id", "left_anti")
          .select("conv_id", "turn_idx",
                  F.lit("rewrite-without-dominant-country").alias("violation")))
    i2 = (m2.alias("b")
          .join(m1.alias("a"), keys + ["place_id"])
          .filter(F.col("b.confidence") < F.col("a.confidence"))
          .select("conv_id", "turn_idx",
                  F.lit("confidence-drop").alias("violation")))
    return i1.unionByName(i2)


def q_near_dup_invariants(spark, sf_dir):
    """All three near-dup completeness invariants in ONE driver row
    (frees two query slots under the driver's 50-query cap for the
    round-5 decontaminate/redact operators; each half keeps its own
    violation label so a red row still names the failing scheme):
    minhash recall guard + simhash pigeonhole completeness + winnowing
    identical-doc detection.  Violations empty."""
    return (q_minhash_recall_check(spark, sf_dir)
            .unionByName(q_simhash_complete_check(spark, sf_dir))
            .unionByName(q_winnow_dup_check(spark, sf_dir)))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (13-gram collision rule): the benchmark
    set is DERIVED relationally from the corpus itself (tokens 5..30 of
    every 23rd doc with >=31 tokens) so the oracle can rebuild it in SQL;
    every benchmark doc contaminates at least its own source, and planted
    near-dup families contaminate their siblings — non-vacuous by
    construction."""
    from xponents_spark.operators.dedup import decontaminate
    docs = _docs(spark, sf_dir)
    w = "filter(split(text, '\\\\s+'), x -> x != '')"
    bench = (docs.filter((F.col("doc_id") % 23) == 3)
             .filter(F.expr(f"size({w}) >= 31"))
             .select(F.col("doc_id").alias("bench_id"),
                     F.expr(f"concat_ws(' ', slice({w}, 5, 26))")
                     .alias("text")))
    return decontaminate(docs, bench, n=13)


def q_redact_pii(spark, sf_dir):
    """PII redaction over the synthesized transcripts (planted PoLi
    payloads carry real emails/IPs/phones): text_redacted plus per-class
    match counts, byte-compared against DuckDB running the identical
    pattern list."""
    from xponents_spark.operators.redact import PII_PATTERNS, redact_pii
    t = _transcripts_spread(spark, sf_dir)
    return redact_pii(t, text_col="text").select(
        "conv_id", "turn_idx", "text_redacted",
        *[f"n_{name}" for name, _, _ in PII_PATTERNS])


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_RATES = {"web": 0.5, "wiki": 2.25, "code": 1.0}


def q_corpus_split_mix(spark, sf_dir):
    """Corpus management (round 5): deterministic hash_split (train/val/
    test in (key, salt)) composed with mixture_sample (per-source rates;
    wiki at 2.25 epochs upsamples via the epoch column, web at 0.5
    subsamples) — both pure narrow projections whose exact assignment the
    DuckDB oracle replays through the portable 60-bit md5 bucket."""
    from xponents_spark.operators.corpus import hash_split, mixture_sample
    # raw read (not _docs): this gate is a pure narrow projection whose
    # zero-Exchange plan shape is the point — no spread needed or wanted
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    src = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 3 == 0, "web")
         .when(F.col("doc_id") % 3 == 1, "wiki").otherwise("code"))
    out = mixture_sample(hash_split(src, _SPLIT_WEIGHTS, salt="gate"),
                         _MIX_RATES, salt="gate-mix")
    return out.select("doc_id", "source", "split", "epoch")


def _corpus_split_mix_oracle() -> str:
    from xponents_spark.operators.corpus import unit_hash_sql
    u1 = unit_hash_sql("doc_id::VARCHAR", "gate")
    u2 = unit_hash_sql("doc_id::VARCHAR", "gate-mix")
    # cumulative thresholds computed with the SAME float arithmetic as
    # hash_split's python accumulation (0.8 + 0.1 != 0.9 exactly)
    total = float(sum(_SPLIT_WEIGHTS.values()))
    names = list(_SPLIT_WEIGHTS)
    acc, arms = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        arms.append(f"WHEN u1 < {acc!r} THEN '{name}'")
    split_case = f"CASE {' '.join(arms)} ELSE '{names[-1]}' END"
    rate_case = ("CASE source " + " ".join(
        f"WHEN '{k}' THEN {float(v)!r}::DOUBLE"
        for k, v in _MIX_RATES.items()) + " ELSE 0.0::DOUBLE END")
    return f"""
WITH s AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'wiki'
              ELSE 'code' END AS source,
         {u1} AS u1, {u2} AS u2
  FROM documents),
labeled AS (
  SELECT doc_id, source, {split_case} AS split,
         {rate_case} AS r, u2 FROM s),
counted AS (
  SELECT doc_id, source, split,
         (floor(r) + CASE WHEN u2 < r - floor(r) THEN 1 ELSE 0 END)::INT
             AS n
  FROM labeled)
SELECT doc_id, source, split,
       unnest(generate_series(1, n)) AS epoch
FROM counted WHERE n >= 1
"""


_RANGE_ORACLE = """
WITH wins AS (
  SELECT g AS w_id,
         TIMESTAMP '2024-01-01 00:00:00' + (g * 12) * INTERVAL 1 HOUR
             AS w_start,
         TIMESTAMP '2024-01-01 00:00:00' + (g * 12 + 3) * INTERVAL 1 HOUR
             AS w_end
  FROM generate_series(0, 59) t(g))
SELECT e.event_id, w.w_id
FROM events e JOIN wins w ON e.ts >= w.w_start AND e.ts < w.w_end
"""


_ASOF_ORACLE = """
WITH snaps AS (
  SELECT (g % 150) AS user_id,
         TIMESTAMP '2024-01-01 00:00:00' + (g // 150) * INTERVAL 1 DAY
             AS sts,
         ((g % 150) + (g // 150)) % 5 AS tier
  FROM generate_series(0, 4499) t(g))
SELECT e.event_id, e.user_id, s.tier, s.sts AS matched_ts
FROM events e ASOF LEFT JOIN snaps s
  ON e.user_id = s.user_id AND e.ts >= s.sts
"""


def _sessionize_oracle() -> str:
    from xponents_spark.sources.transcripts import transcripts_oracle_cte
    return f"""
WITH {transcripts_oracle_cte()},
m AS (
  SELECT conv_id, turn_idx,
         TIMESTAMP '2025-01-01 00:00:00'
           + (turn_idx * 37 + (turn_idx // 4) * 7200) * INTERVAL 1 SECOND
             AS ts
  FROM transcripts),
g AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(epoch(ts)::BIGINT) OVER w IS NULL
                OR epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM m WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
SELECT conv_id, turn_idx,
       CAST(SUM(new_s) OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq,
       conv_id || '#' ||
       CAST(CAST(SUM(new_s) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS VARCHAR) AS session_id
FROM g
"""


def q_minhash_recall_check(spark, sf_dir):
    """MinHash-LSH recall guard: every exact-Jaccard pair at >=0.9 must be
    found by the banded join at est>=0.5.  The margin is probability-sound,
    not just noise slack: with 16 bands x 4 rows, P(candidate) at true
    J=0.9 is 1-(1-0.9^4)^16 ~= 1-4e-8, and P(est<0.5 | J=0.9) over 64
    permutations is ~1e-12 — whereas a 0.6-threshold guard would carry an
    ~11% per-pair miss probability by banding design (caught in review)."""
    docs = _docs(spark, sf_dir)
    exact = (ngram_jaccard_pairs(docs, n=3, threshold=0.9)
             .select("doc_a", "doc_b"))
    got = minhash_near_dups(docs, threshold=0.5).select("doc_a", "doc_b")
    return (exact.join(got, ["doc_a", "doc_b"], "left_anti")
            .withColumn("violation", F.lit("missed-near-dup")))


def q_simhash_complete_check(spark, sf_dir):
    """SimHash pigeonhole completeness: the 4x16-bit block join must find
    EVERY pair at hamming<=3 (<=3 differing bits cannot touch all 4 blocks).
    Ground truth = exact signature cross-join — verification-only cost,
    bounded to the oracle SF."""
    from xponents_spark.operators.dedup import simhash_signatures
    docs = _docs(spark, sf_dir)
    sig = simhash_signatures(docs).cache()
    a, b = sig.alias("a"), sig.alias("b")
    exact = (a.crossJoin(b)
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .filter(F.bit_count(F.col("a.simhash")
                                 .bitwiseXOR(F.col("b.simhash"))) <= 3)
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    got = simhash_near_dups(docs, max_hamming=3).select("doc_a", "doc_b")
    return (exact.join(got, ["doc_a", "doc_b"], "left_anti")
            .withColumn("violation", F.lit("missed-simhash-pair")))


def _ann_recall(spark, sf_dir, approx_fn) -> DataFrame:
    truth = q_ann_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = approx_fn(spark, sf_dir).select("query_id", "vec_id")
    hit = truth.join(approx, ["query_id", "vec_id"]).count()
    total = truth.count()
    return spark.createDataFrame(
        [(int(total), round(hit / total, 4))], "n_truth INT, recall DOUBLE")


def q_ann_recall_floors(spark, sf_dir):
    """All ANN recall-floor invariants in ONE driver row (round 5,
    VERDICT r4 item 2: the per-scheme floor queries fell past the
    driver's query cap; merged they always execute).

    Gaussian floors (the provided structure-free test embeddings, ANN's
    worst case): multi-table multi-probe LSH recall@5 vs brute force,
    measured 0.54 at L=8/bits=8/probes=8, floor 0.5; IVF n=32/nprobe=8
    measured ~0.65, floor 0.5.

    Planted-cluster floors (deterministic clustered vectors — the
    geometry real corpora justify): IVF >= 0.9 (clusters are exactly its
    model) and L=12 multi-table LSH >= 0.9 (each independent table
    re-rolls the hyperplanes; the miss probability decays exponentially
    in L — VERDICT r3 item 4).  BENCH/BASELINE.md carries the honest
    recall/cost grid."""
    from xponents_spark.operators.similarity import (cosine_topk_bruteforce,
                                                     cosine_topk_ivf,
                                                     cosine_topk_lsh)
    from xponents_spark.sources.transcripts import \
        synthesize_clustered_embeddings

    g = _ann_recall(spark, sf_dir, q_ann_lsh).collect()[0]
    lsh_ok = g["recall"] >= 0.5
    n_truth = int(g["n_truth"])
    ivf_ok = _ann_recall(spark, sf_dir, q_ann_ivf).collect()[0]["recall"] >= 0.5

    emb = synthesize_clustered_embeddings(spark).cache()
    qs = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 10).collect()]
    truth = (cosine_topk_bruteforce(emb, qs, k=5)
             .select("query_id", "vec_id"))
    total = truth.count()

    def recall(approx):
        return truth.join(approx.select("query_id", "vec_id"),
                          ["query_id", "vec_id"]).count() / total

    p_ivf = recall(cosine_topk_ivf(emb, qs, k=5, n_centroids=32, nprobe=8))
    p_lsh = recall(cosine_topk_lsh(emb, qs, k=5, bits=8, probes=6, tables=12))
    emb.unpersist()
    return spark.createDataFrame(
        [(n_truth, bool(lsh_ok), bool(ivf_ok),
          p_ivf >= 0.9, p_lsh >= 0.9)],
        "n_truth INT, lsh_meets_floor BOOLEAN, ivf_meets_floor BOOLEAN, "
        "planted_ivf_meets_floor BOOLEAN, planted_lsh_meets_floor BOOLEAN")


def q_ann_ivf_indexed_consistency(spark, sf_dir):
    """Persisted-IVF-index consistency (the 100 TB layout: corpus written
    once partitioned by list_id + centroid sidecar; queries prune to
    nprobe partition directories): the indexed query must return EXACTLY
    the in-memory IVF result for the same centroids.  Violations empty."""
    import tempfile

    from xponents_spark.operators.similarity import (build_ivf_index,
                                                     cosine_topk_ivf,
                                                     cosine_topk_ivf_indexed)
    qs = _queries_from(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    # materialize the comparison EAGERLY inside a scratch dir that is
    # removed before returning (review finding: a lazily-read mkdtemp
    # index leaked a corpus-sized directory per gate run); the violation
    # set is tiny (empty when healthy), so collecting it is free
    with tempfile.TemporaryDirectory(prefix="ivf_gate_") as d:
        path = d + "/index"
        centroids = build_ivf_index(emb, path, n_centroids=32)
        a = (cosine_topk_ivf_indexed(spark, path, qs, k=5, nprobe=8)
             .select("query_id", "vec_id", "rank"))
        b = (cosine_topk_ivf(emb, qs, k=5, n_centroids=32, nprobe=8,
                             centroids=centroids)
             .select("query_id", "vec_id", "rank"))
        rows = (a.exceptAll(b).unionByName(b.exceptAll(a))
                .withColumn("violation",
                            F.lit("indexed-vs-memory-mismatch")).collect())
    return spark.createDataFrame(
        rows, "query_id BIGINT, vec_id BIGINT, rank INT, violation STRING")


def q_embedding_near_dup_sound(spark, sf_dir):
    """Soundness of the LSH+verify near-dup: every emitted pair really has
    exact cosine >= threshold (recomputed from raw embeddings).  Runs on
    the planted corpus so the soundness check scores REAL pairs (>=25),
    not a vacuously empty set."""
    from xponents_spark.operators.similarity import embedding_near_dups
    emb = _emb_with_planted(spark, sf_dir)
    got = embedding_near_dups(emb, threshold=0.8).select("vec_a", "vec_b")
    dot = F.expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), "
                 "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    nrm = ("sqrt(aggregate(transform({0}, x -> x * x), CAST(0.0 AS DOUBLE), "
           "(acc, v) -> acc + v))")
    cos = dot / (F.expr(nrm.format("ea")) * F.expr(nrm.format("eb")))
    joined = (got
              .join(emb.select(F.col("vec_id").alias("vec_a"),
                               F.col("embedding").alias("ea")), "vec_a")
              .join(emb.select(F.col("vec_id").alias("vec_b"),
                               F.col("embedding").alias("eb")), "vec_b"))
    return (joined.withColumn("cosine", cos)
            .filter(F.col("cosine") < 0.8)
            .select("vec_a", "vec_b",
                    F.lit("pair-below-threshold").alias("violation")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries (round 5): the round-4 driver executed only the
    first 50 of 54 registered queries, silently dropping the IVF/embedding
    invariants (VERDICT r4 item 2).  Multi-format roundtrips are merged
    into single row sets with a ``format`` column and the three ANN floor
    checks into one row, so EVERY operator and EVERY invariant holds a
    driver-gated row inside the cap.  Each approximate (rows-only) query
    is immediately followed by its driver-checkable invariant."""
    return {
        "transcripts_synth": q_transcripts,
        "main_content": q_main_content,
        "xcoord_extract": q_xcoord,
        "xtemporal_extract": q_xtemporal,
        "poli_extract": q_poli,
        "place_extract": q_places,
        "postal_extract": q_postal,
        "taxon_extract": q_taxons,
        "country_histogram": q_country_histogram,
        "conv_geography": q_conv_geography,
        "conv_scoped_places": q_conv_scoped_places,
        "conv_scoped_invariants": q_conv_scoped_invariants,
        "match_label_histogram": q_label_histogram,
        "gazetteer_etl": q_gazetteer_etl,
        "pdf_text_recovery": q_pdf_roundtrip,
        "office_text_recovery": q_office_roundtrip,
        "encrypted_office_recovery": q_encrypted_office_roundtrip,
        "container_text_recovery": q_container_roundtrip,
        "image_text_recovery": q_image_roundtrip,
        "jpeg_fidelity_check": q_jpeg_fidelity,
        "codec_fallback_rate": q_codec_fallback_rate,
        "mp4_sample_schedule": q_mp4_sample_schedule,
        "exact_dedup": q_exact_dedup,
        "token_stats": q_token_stats,
        "sessionize": q_sessionize,
        "range_join": q_range_join,
        "fingerprint": q_fingerprint,
        "repetition_stats": q_repetition,
        "duplicated_spans": q_duplicated_spans,
        "remove_duplicated_spans": q_remove_spans,
        "gopher_quality_filter": q_gopher_filter,
        "gopher_filter_full": q_gopher_filter_full,
        "c4_quality_filter": q_c4_quality_filter,
        "event_hourly_windows": q_event_hourly,
        "asof_join": q_asof_join,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "decontaminate": q_decontaminate,
        "redact_pii": q_redact_pii,
        "corpus_split_mix": q_corpus_split_mix,
        "near_dups_all": q_near_dups_all,       # full-oracle (3 schemes)
        "near_dup_invariants": q_near_dup_invariants,
        "near_dup_groups": q_near_dup_groups,
        "ann_cosine_topk": q_ann_topk,
        "cosine_pairs": q_cosine_pairs,
        "ann_approx_topk": q_ann_approx_topk,  # full-oracle (lsh + ivf)
        "ann_recall_floors": q_ann_recall_floors,
        "semantic_dedup_invariants": q_semantic_dedup_invariants,
        "ann_ivf_indexed_consistency": q_ann_ivf_indexed_consistency,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dup_sound": q_embedding_near_dup_sound,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts_synth": O.transcripts_oracle(),
        "main_content": O.main_content_oracle(),
        "xcoord_extract": O.extraction_oracle(
            ("coord",), ("lat", "lon", "prec", "geohash",
                         "cc", "adm1", "adm1_name", "name", "place_id",
                         "nearest_places"),
            ", exp.lat AS lat, exp.lon AS lon, "
            "CAST(exp.prec AS INTEGER) AS prec, exp.geohash AS geohash, "
            "exp.cc AS cc, exp.adm1 AS adm1, "
            "CAST(exp.adm1_name AS VARCHAR) AS adm1_name, exp.name AS name, "
            "exp.place_id AS place_id, "
            "array_to_string(CAST(exp.nearest_places AS VARCHAR[]), '|') "
            "AS nearest_places"),
        "xtemporal_extract": O.extraction_oracle(
            ("date",), ("date_norm", "epoch", "resolution", "flags"),
            ", exp.date_norm AS date_norm, CAST(exp.epoch AS BIGINT) AS epoch, "
            "exp.resolution AS resolution, "
            "array_to_string(CAST(exp.flags AS VARCHAR[]), '|') AS flags"),
        "poli_extract": O.extraction_oracle(
            ("email", "phone", "money", "ip", "url", "mac"), ()),
        "place_extract": O.extraction_oracle(
            ("place", "country"),
            ("cc", "adm1", "adm1_name", "feat_class", "feat_code",
             "place_id", "name", "alt_place_id", "alt_cc", "alt_conf_delta",
             "lat", "lon", "confidence"),
            ", exp.cc AS cc, exp.adm1 AS adm1, "
            "CAST(exp.adm1_name AS VARCHAR) AS adm1_name, "
            "exp.feat_class AS feat_class, "
            "exp.feat_code AS feat_code, exp.place_id AS place_id, "
            "exp.name AS name, "
            "CAST(exp.alt_place_id AS VARCHAR) AS alt_place_id, "
            "CAST(exp.alt_cc AS VARCHAR) AS alt_cc, "
            "CAST(exp.alt_conf_delta AS INTEGER) AS alt_conf_delta, "
            "exp.lat AS lat, exp.lon AS lon, "
            "CAST(exp.confidence AS INTEGER) AS confidence"),
        "postal_extract": O.extraction_oracle(
            ("postal",),
            ("cc", "adm1", "adm1_name", "name", "place_id", "confidence"),
            ", exp.cc AS cc, exp.adm1 AS adm1, "
            "CAST(exp.adm1_name AS VARCHAR) AS adm1_name, exp.name AS name, "
            "exp.place_id AS place_id, CAST(exp.confidence AS INTEGER) AS confidence"),
        "taxon_extract": O.extraction_oracle(
            ("person", "org", "nationality"),
            ("taxon", "catalog", "cc"),
            ", exp.taxon AS taxon, exp.catalog AS catalog, exp.cc AS cc"),
        "country_histogram": O.country_histogram_oracle(),
        "conv_geography": O.conv_geography_oracle(),
        "conv_scoped_places": O.conv_scoped_oracle(),
        "match_label_histogram": O.label_histogram_oracle(),
        "gazetteer_etl": O.gazetteer_etl_oracle(),
        "pdf_text_recovery": "SELECT doc_id, text FROM documents",
        "office_text_recovery": (
            "SELECT d.doc_id, f.format, d.text FROM documents d "
            "CROSS JOIN (VALUES ('docx'), ('doc'), ('xls'), ('xlsx'), "
            "('pptx')) f(format)"),
        "encrypted_office_recovery": (
            "SELECT d.doc_id, f.format, d.text FROM documents d "
            "CROSS JOIN (VALUES ('doc_rc4'), ('docx_agile'), "
            "('docx_standard')) f(format)"),
        "container_text_recovery": (
            "SELECT d.doc_id, f.container, f.entry_path, "
            "'ok' AS entry_status, f.entry_kind, "
            "CASE WHEN f.txt = '<DOC>' THEN d.text ELSE f.txt END AS text "
            "FROM documents d CROSS JOIN (VALUES "
            "('zip', 'a.txt', 'text', '<DOC>'), "
            "('zip', 'docs/inner.docx', 'docx', '<DOC>'), "
            "('tgz', 'x/a.txt', 'text', '<DOC>'), "
            "('eml', 'headers', 'text', '"
            + _CONTAINER_HDR.format(s="gate") + "'), "
            "('eml', 'body-1', 'text', '<DOC>'), "
            "('eml', 'attachment/r.docx', 'docx', '<DOC>'), "
            "('mbox', 'msg-1/headers', 'text', '"
            + _CONTAINER_HDR.format(s="gate") + "'), "
            "('mbox', 'msg-1/body-1', 'text', '<DOC>'), "
            "('mbox', 'msg-1/attachment/r.docx', 'docx', '<DOC>'), "
            "('mbox', 'msg-2/headers', 'text', '"
            + _CONTAINER_HDR.format(s="gate2") + "'), "
            "('mbox', 'msg-2/body-1', 'text', 'second message body')"
            ") f(container, entry_path, entry_kind, txt)"),
        "image_text_recovery": (
            "SELECT d.doc_id, f.format, d.text FROM documents d "
            "CROSS JOIN (VALUES ('gif'), ('bmp'), ('png'), ('png_adam7'), "
            "('gif_anim')) "
            "f(format)"),
        "jpeg_fidelity_check": O.EMPTY_JPEG_VIOLATIONS,
        "codec_fallback_rate": (
            "SELECT mime, decode_path, COUNT(*) AS n FROM ("
            "  SELECT CASE WHEN doc_id % 4 = 3 THEN 'image/gif'"
            "              WHEN doc_id % 4 = 2 THEN 'image/jpeg'"
            "              ELSE 'image/png' END AS mime,"
            "         CASE WHEN doc_id % 4 IN (0, 1) THEN 'real'"
            "              ELSE 'fallback' END AS decode_path"
            "  FROM documents) GROUP BY mime, decode_path"),
        "mp4_sample_schedule": (
            # spec-determined fixture layout: ftyp is 24 bytes, so the
            # first mdat payload byte sits at offset 32; fps=5 at
            # timescale 1000 -> 200 ms per sample; 32-byte samples
            "SELECT d.doc_id, CAST(t.k AS INTEGER) AS sample_idx, "
            "CAST(t.k * 200 AS INTEGER) AS t_ms, "
            "CAST(32 + t.k * 32 AS BIGINT) AS byte_offset, "
            "CAST(32 AS INTEGER) AS byte_size "
            "FROM documents d CROSS JOIN generate_series(0, 7) t(k) "
            "WHERE t.k <= 3 + d.doc_id % 5"),
        "exact_dedup": (
            f"SELECT o.*, 'exact' AS method FROM ({O.EXACT_DEDUP_ORACLE.strip()}) "
            "o(group_md5, n_docs, keep_doc) UNION ALL "
            f"SELECT o.*, 'prefix' FROM ({O.PREFIX_DEDUP_ORACLE.strip()}) "
            "o(group_md5, n_docs, keep_doc)"),
        "token_stats": (
            f"SELECT t.*, q.chars_per_token, q.stopword_ratio, "
            f"q.punct_ratio, q.alpha_ratio, l.lang_pred "
            f"FROM ({O.TOKEN_STATS_ORACLE}) t "
            f"JOIN ({O.QUALITY_ORACLE}) q USING (doc_id) "
            f"JOIN ({O.lang_id_oracle()}) l USING (doc_id)"),
        "sessionize": _sessionize_oracle(),
        "range_join": _RANGE_ORACLE,
        "fingerprint": (
            f"SELECT f.*, c.n_chars, c.is_lower, c.is_upper, c.has_cjk, "
            f"c.has_mideast FROM ({O.FINGERPRINT_ORACLE}) f "
            f"JOIN ({O.CHARACTERIZE_ORACLE}) c USING (doc_id)"),
        "repetition_stats": O.REPETITION_ORACLE,
        "duplicated_spans": O.duplicated_spans_oracle(8),
        "remove_duplicated_spans": O.remove_spans_oracle(8),
        "gopher_quality_filter": (
            f"SELECT o.*, v.variant FROM ({O.gopher_filter_oracle()}) o "
            "CROSS JOIN (VALUES ('relational'), ('single_pass')) "
            "v(variant)"),
        "gopher_filter_full": O.gopher_filter_full_oracle(),
        "c4_quality_filter": O.C4_ORACLE,
        "semantic_dedup_invariants": O.EMPTY_ID_VIOLATIONS,
        "ngram_jaccard_pairs": O.NGRAM_JACCARD_ORACLE,
        "ann_cosine_topk": O.ANN_TOPK_ORACLE,
        "cosine_pairs": O.COSINE_PAIRS_ORACLE,
        "event_hourly_windows": O.EVENT_HOURLY_ORACLE,
        "asof_join": _ASOF_ORACLE,
        # invariant queries: the oracle pins the expected result — empty
        # violation sets (or a constant floor row).  A regression in the
        # approximate ops turns these rows non-empty and the gate red.
        "conv_scoped_invariants": O.EMPTY_CONV_VIOLATIONS,
        "near_dup_invariants": O.EMPTY_PAIR_VIOLATIONS,
        "near_dup_groups": O.NEAR_DUP_GROUPS_ORACLE,
        "decontaminate": O.DECONTAMINATE_ORACLE,
        "redact_pii": O.redact_pii_oracle(),
        "corpus_split_mix": _corpus_split_mix_oracle(),
        "ann_recall_floors": (
            "SELECT 50 AS n_truth, true AS lsh_meets_floor, "
            "true AS ivf_meets_floor, true AS planted_ivf_meets_floor, "
            "true AS planted_lsh_meets_floor"),
        "embedding_near_dups": (
            # planted exact copies are the deterministic expected output:
            # identical vectors collide in every LSH table and verify at
            # cosine 1.0; max natural pair is ~0.51 < 0.8 (see
            # _emb_with_planted)
            f"SELECT CAST(vec_id AS BIGINT) AS vec_a, "
            f"CAST(vec_id + {_PLANT_OFFSET} AS BIGINT) AS vec_b "
            f"FROM embeddings WHERE vec_id < {_PLANT_N}"),
        "embedding_near_dup_sound": O.EMPTY_VEC_VIOLATIONS,
        "ann_ivf_indexed_consistency": O.EMPTY_IVF_VIOLATIONS,
        "near_dups_all": (
            # planted twin pairs (per-pair-unique vocabulary) are the
            # exact expected output in every scheme: identical text is
            # guaranteed-recall (signature/blocks/fingerprints all
            # identical) and disjoint vocab admits no other pair in the
            # planted region (see _docs_with_planted_twins)
            f"SELECT CAST({_ND_PLANT_OFFSET} + 2 * t.i AS BIGINT) AS doc_a, "
            f"CAST({_ND_PLANT_OFFSET} + 2 * t.i + 1 AS BIGINT) AS doc_b, "
            "s.scheme, CAST(CASE WHEN s.scheme = 'simhash' THEN 0.0 "
            "ELSE 1.0 END AS DOUBLE) AS score "
            f"FROM generate_series(0, {_ND_PLANT_PAIRS - 1}) t(i) "
            "CROSS JOIN (VALUES ('minhash'), ('simhash'), ('winnow')) "
            "s(scheme)"),
        "ann_approx_topk": (
            # five exact copies of each query vector occupy ranks 1..5 in
            # vec_id order for BOTH schemes: identical bytes collide in
            # every LSH table / quantize to the query's own IVF list, tie
            # at the top cosine, and the (sim desc, vec_id asc) tie-break
            # is published API (see _emb_with_ann_planted)
            "SELECT CAST(q.qid AS BIGINT) AS query_id, "
            f"CAST({_ANN_PLANT_OFFSET} + q.qid * 10 + j.j AS BIGINT) "
            "AS vec_id, CAST(j.j + 1 AS INTEGER) AS rank, s.scheme "
            "FROM generate_series(0, 9) q(qid) "
            f"CROSS JOIN generate_series(0, {_ANN_PLANT_K - 1}) j(j) "
            "CROSS JOIN (VALUES ('lsh'), ('ivf')) s(scheme)"),
    }
