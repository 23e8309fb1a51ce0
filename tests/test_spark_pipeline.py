"""End-to-end Spark pipeline tests: synthesized transcripts through the
one-stage Arrow extraction, fixture equality per turn, skew salting,
resumable checkpoints, streaming parity, multimodal plumbing."""

import datetime
import shutil
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from xponents_spark.pipeline import extract, exploded_matches
from xponents_spark.plans import ordered_output, run_resumable, salted_repartition
from xponents_spark.plans.checkpoints import read_resumable_output
from xponents_spark.schemas import TRANSCRIPT_SCHEMA
from xponents_spark.sources import synthesize_transcripts
from xponents_spark.sources.payloads import EXPECTED, NUM_PAYLOADS
from xponents_spark.sources.transcripts import NUM_CONVS


def test_extraction_matches_fixtures_per_turn(spark, sf_dir):
    """The north-rule gate: per-turn equality of (main_text, matches) vs the
    pinned fixtures under stable (conv_id, turn_idx) ordering."""
    t = synthesize_transcripts(spark, sf_dir)
    out = ordered_output(extract(salted_repartition(t, 8))).collect()
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    assert len(out) == len(docs)
    for row in out:
        doc_id = int(row.conv_id[1:]) + row.turn_idx * NUM_CONVS
        k = doc_id % NUM_PAYLOADS
        base = docs[doc_id]
        expected = EXPECTED[k]
        got = [m.asDict() for m in row.matches]
        assert len(got) == len(expected), (doc_id, k, got)
        off = len(base) + 1
        for g, e in zip(got, expected):
            assert g["span_start"] == off + e["rel_start"]
            assert g["span_end"] == off + e["rel_end"]
            assert g["matchtext"] == e["matchtext"]
            assert g["label"] == e["label"]
        if k == 16:   # html class: main text is the recovered document text
            assert row.main_text == base
        else:
            assert row.main_text == row.text


def test_salting_spreads_skewed_conversation(spark):
    rows = [Row(conv_id="huge", turn_idx=i, role="user", text=f"turn {i}",
                tool=None, ts=datetime.datetime(2025, 1, 1)) for i in range(2000)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    parts = (salted_repartition(df, 8)
             .withColumn("p", F.spark_partition_id())
             .groupBy("p").count().collect())
    counts = [r["count"] for r in parts]
    assert len(counts) == 8
    assert max(counts) < 2000 * 0.25   # one conversation fans out

def test_spread_small_input_parallelizes_single_split(spark):
    """r7: a dimension-sized (single-split) input spreads to the
    session's parallelism so CPU-dense map stages use every core; an
    input that already carries enough partitions passes through
    untouched (the cluster-scale no-op guard)."""
    from xponents_spark.plans import spread_small_input
    one = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "doc_id")
    par = spark.sparkContext.defaultParallelism
    spread = spread_small_input(one, key_cols=("doc_id",))
    assert spread.rdd.getNumPartitions() == max(par, 8)
    assert spread.count() == 1000          # row-preserving
    wide = spark.range(0, 1000, 1, par).withColumnRenamed("id", "doc_id")
    assert spread_small_input(wide, key_cols=("doc_id",)) is wide


def test_resumable_checkpoints(spark, sf_dir, tmp_path):
    t = synthesize_transcripts(spark, sf_dir)
    out = str(tmp_path / "run")
    m1 = run_resumable(t, out, buckets=3, input_desc="sf0.001")
    assert sum(m["rows"] for m in m1) == 500
    assert all(m["status"] == "committed" for m in m1)
    m2 = run_resumable(t, out, buckets=3, input_desc="sf0.001")
    assert m1 == m2   # full resume: nothing recomputed
    assert read_resumable_output(spark, out).count() == 500


def test_resumable_refuses_changed_input(spark, sf_dir, tmp_path):
    """Resume over a CHANGED source must refuse instead of silently reusing
    the stale stage-0 bucketized copy (round-2 review finding)."""
    import pytest

    t = synthesize_transcripts(spark, sf_dir)
    out = str(tmp_path / "chg")
    run_resumable(t, out, buckets=3, input_desc="x")
    grown = t.unionByName(t.limit(5))
    with pytest.raises(ValueError, match="input mismatch"):
        run_resumable(grown, out, buckets=3, input_desc="x")
    # explicit override still allowed for caller-owned input identity
    m = run_resumable(grown, out, buckets=3, input_desc="x",
                      verify_input=False)
    assert sum(r["rows"] for r in m) == 500   # stale copy, by choice


def test_resumable_extracts_each_row_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    """Regression for the round-1 double-compute: metrics must come from the
    write job itself (Observation), so each input row flows through the
    extraction stage exactly once across all buckets."""
    from xponents_spark.plans import checkpoints

    acc = spark.sparkContext.accumulator(0)
    real_extract = checkpoints.extract

    def counting_extract(df, features):
        def count_rows(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf
        return real_extract(df.mapInPandas(count_rows, df.schema),
                            features=features)

    monkeypatch.setattr(checkpoints, "extract", counting_extract)
    t = synthesize_transcripts(spark, sf_dir)
    m = run_resumable(t, str(tmp_path / "once"), buckets=3, input_desc="sf0.001")
    assert sum(r["rows"] for r in m) == 500
    assert acc.value == 500   # one extraction pass per row, not two


def test_streaming_parity_with_batch(spark, sf_dir):
    """availableNow streaming run produces the same matches as batch."""
    from xponents_spark.streaming import read_transcript_stream, start_extraction_sink

    src = tempfile.mkdtemp(prefix="stream_src_")
    out = tempfile.mkdtemp(prefix="stream_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        t = synthesize_transcripts(spark, sf_dir).limit(100)
        t.write.mode("overwrite").parquet(src)
        stream = read_transcript_stream(spark, src)
        q = start_extraction_sink(stream, out, ckpt,
                                  features=("content", "coordinates", "dates"))
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        want = extract(spark.read.parquet(src),
                       features=("content", "coordinates", "dates"))
        g = got.select("conv_id", "turn_idx", F.size("matches").alias("n")) \
               .orderBy("conv_id", "turn_idx").collect()
        w = want.select("conv_id", "turn_idx", F.size("matches").alias("n")) \
                .orderBy("conv_id", "turn_idx").collect()
        assert g == w and len(g) == 100
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stateful_conversation_stream(spark, sf_dir):
    """applyInPandasWithState accumulates per-conversation counts across
    micro-batches (update mode, memory sink)."""
    from xponents_spark.streaming import conversation_state_stream, read_transcript_stream

    src = tempfile.mkdtemp(prefix="state_src_")
    ckpt = tempfile.mkdtemp(prefix="state_ckpt_")
    try:
        t = synthesize_transcripts(spark, sf_dir).limit(80).cache()
        # two files -> two micro-batches with maxFilesPerTrigger=1
        t.limit(40).coalesce(1).write.mode("overwrite").parquet(src + "/f1")
        import glob
        import shutil as sh
        for f in glob.glob(src + "/f1/*.parquet"):
            sh.move(f, src + "/a.parquet")
        t.subtract(t.limit(40)).coalesce(1).write.mode("overwrite").parquet(src + "/f2")
        for f in glob.glob(src + "/f2/*.parquet"):
            sh.move(f, src + "/b.parquet")
        sh.rmtree(src + "/f1"), sh.rmtree(src + "/f2")

        stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
        q = (conversation_state_stream(stream)
             .writeStream.format("memory").queryName("convstate")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("select * from convstate").collect()
        assert rows
        # final state per conversation must equal the batch ground truth
        final = {}
        for r in rows:   # later updates overwrite earlier ones per conv
            cur = final.get(r["conv_id"])
            if cur is None or r["n_turns"] >= cur["n_turns"]:
                final[r["conv_id"]] = r
        truth = {r["conv_id"]: r["cnt"] for r in
                 t.groupBy("conv_id").agg(F.count("*").alias("cnt")).collect()}
        got = {c: r["n_turns"] for c, r in final.items()}
        assert got == truth
        # match counts and last turn equal a batch extract() over the same
        # 80 turns with the stream's default features
        batch = (extract(t, features=("content", "coordinates", "dates"))
                 .groupBy("conv_id")
                 .agg(F.sum(F.size("matches")).alias("n"),
                      F.max("turn_idx").alias("mx")).collect())
        assert {c: (r["n_matches"], r["max_turn_idx"])
                for c, r in final.items()} == \
            {r["conv_id"]: (r["n"], r["mx"]) for r in batch}
        assert sum(r["n"] for r in batch) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _one_org_taxcat(spark, out_dir) -> str:
    """A compiled taxcat artifact whose one row is the org "Zorblax
    Dynamics", which the embedded lexicons do not know."""
    from xponents_spark.gazetteer.mmapstore import build_taxcat_mmap
    from xponents_spark.sources.taxcat_etl import build_taxcat_parquet
    build_taxcat_parquet(spark.createDataFrame(
        [("JRC", "JRC.org", "Zorblax Dynamics", "org", "Zorblax Dynamics",
          None, "N", True)],
        "catalog string, taxnode string, name string, kind string, "
        "canonical string, cc string, name_type string, valid boolean"),
        str(out_dir / "taxcat.parquet"))
    build_taxcat_mmap(str(out_dir / "taxcat.parquet"),
                      str(out_dir / "taxcat.mmap"))
    return str(out_dir / "taxcat.mmap")


def test_stateful_stream_uses_the_jobs_tables(spark, tmp_path):
    """Python workers are reused across jobs: after a one-partition
    ``extract`` job tags against a taxcat artifact, the stateful stream
    over the same turns, with no path set, still counts the matches of
    the embedded tables."""
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
    from xponents_spark.streaming import (conversation_state_stream,
                                          read_transcript_stream)

    taxcat = _one_org_taxcat(spark, tmp_path)
    ts = datetime.datetime(2025, 1, 1)
    rows = [(f"c{c}", i, "user",
             f"meet Zorblax Dynamics in Vancouver, turn {i} of {c}", None, ts)
            for c in range(12) for i in range(2)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.parquet(src)
    turns = spark.read.parquet(src)

    tagged = extract(turns.coalesce(1), taxcat_parquet=taxcat)
    orgs = tagged.select(F.explode("matches").alias("m")) \
        .filter("m.label = 'org'").count()
    assert orgs == len(rows)          # the job tagged from the artifact

    q = (conversation_state_stream(read_transcript_stream(spark, src),
                                   features=DEFAULT_FEATURES)
         .writeStream.format("memory").queryName("convstate_tables")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("select * from convstate_tables").collect():
        if r["n_turns"] >= final.get(r["conv_id"], (0, 0))[0]:
            final[r["conv_id"]] = (r["n_turns"], r["n_matches"])
    embedded = sum(len(extract_turn(r[3], DEFAULT_FEATURES)[1]) for r in rows)
    assert sum(n for _t, n in final.values()) == embedded


def test_multimodal_plumbing(spark):
    from xponents_spark.operators.multimodal import (
        extract_media_features, make_fake_media, sample_frames)
    media = make_fake_media(spark, 16)
    feats = extract_media_features(media, decoder="fake").collect()
    assert len(feats) == 16
    assert all(len(r["features"]) == 16 for r in feats)
    # deterministic across runs
    again = extract_media_features(media, decoder="fake").collect()
    f1 = {r["media_id"]: r["features"] for r in feats}
    f2 = {r["media_id"]: r["features"] for r in again}
    assert f1 == f2
    frames = sample_frames(media.filter("meta.duration_ms IS NOT NULL")).collect()
    assert len(frames) == 4 * 1 + 4 * 3   # 4 wavs x 1 + 4 videos x 3
    # real decode works on supported mimes (PNG is real since round 4),
    # strict mode raises on the remaining ffmpeg slot (video/mp4)
    real = extract_media_features(
        media.filter("meta.mime IN ('image/x-portable-pixmap', "
                     "'audio/wav', 'image/png')"),
        decoder="real").collect()
    assert len(real) == 12 and all(len(r["features"]) == 16 for r in real)
    import pytest as _pytest
    with _pytest.raises(Exception):
        extract_media_features(media.filter("meta.mime = 'video/mp4'"),
                               decoder="real").collect()


def test_multimodal_real_kernels(spark):
    """The codec-free decode/resize/feature kernels operate on REAL pixels
    and samples: PPM roundtrip is exact, block resize of a constant image
    preserves color, a sine WAV's RMS matches amplitude/sqrt(2)."""
    import numpy as np

    from xponents_spark.operators.multimodal import (audio_features,
                                                     decode_ppm, decode_wav,
                                                     make_ppm, make_wav,
                                                     resize_block,
                                                     resize_images,
                                                     make_fake_media)

    img = decode_ppm(make_ppm(16, 8, seed=3))
    assert img.shape == (8, 16, 3)
    # constant-color image: any block resize keeps the color
    const = np.full((8, 8, 3), 200, dtype=np.uint8)
    assert (resize_block(const, 4, 4) == 200).all()
    # PPM comment handling
    assert decode_ppm(b"P6\n# a comment\n2 1\n255\n" + bytes(6)).shape == (1, 2, 3)

    samples, rate = decode_wav(make_wav(500, freq_hz=440, amplitude=0.5))
    assert rate == 8000 and len(samples) == 4000
    rms = float(np.sqrt(np.mean(samples ** 2)))
    assert abs(rms - 0.5 / np.sqrt(2)) < 0.01
    f = audio_features(samples, rate)
    assert len(f) == 16 and abs(f[0] - rms) < 1e-9

    # Spark resize stage: PPM in -> smaller PPM out, decodable again
    media = make_fake_media(spark, 8)
    out = resize_images(media, 4, 4).collect()
    ppm_rows = [r for r in out if r["payload"] is not None]
    assert ppm_rows and all(
        decode_ppm(bytes(r["payload"])).shape == (4, 4, 3) for r in ppm_rows)


def test_minhash_finds_near_duplicates(spark):
    texts = []
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    for i in range(20):
        words = list(base)
        if i >= 10:
            words[i % 5] = f"changed{i}"   # near-dup of base with 1 word off
        texts.append((i, " ".join(words)))
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    from xponents_spark.operators.dedup import minhash_near_dups, simhash_near_dups
    pairs = minhash_near_dups(df, threshold=0.5).collect()
    assert pairs, "expected near-dup pairs"
    ids = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in ids or (0, 2) in ids   # identical docs collide
    sh = simhash_near_dups(df, max_hamming=6).collect()
    assert sh


def test_ngram_jaccard_exact_pairs(spark):
    from xponents_spark.operators.dedup import ngram_jaccard_pairs
    base = "the quick brown fox jumps over the lazy dog tonight again"
    docs = [(0, base), (1, base),                       # identical -> jac 1.0
            (2, base.replace("fox", "cat")),            # near-dup
            (3, "completely different words here with no overlap at all")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert rows[(0, 1)] == 1.0
    assert 0.3 <= rows[(0, 2)] < 1.0
    assert not any(3 in p for p in rows)
    # short doc (< n words) contributes its whole text as one shingle
    short = spark.createDataFrame([(0, "one two"), (1, "one two")],
                                  ["doc_id", "text"])
    srows = ngram_jaccard_pairs(short, threshold=0.9).collect()
    assert len(srows) == 1 and srows[0]["jaccard"] == 1.0


def test_cosine_pairs_bruteforce_exact(spark):
    import math
    from xponents_spark.operators.similarity import cosine_pairs_bruteforce
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rows = {(r["vec_a"], r["vec_b"]): r["cosine"]
            for r in cosine_pairs_bruteforce(df, threshold=0.5).collect()}
    assert rows[(0, 1)] == 1.0
    assert abs(rows[(0, 2)] - round(1 / math.sqrt(2), 6)) < 1e-12
    assert not any(3 in p for p in rows)


def test_embedding_near_dups_finds_planted_pair(spark):
    import numpy as np
    from xponents_spark.operators.similarity import embedding_near_dups
    rng = np.random.RandomState(0)
    vecs = [(i, rng.standard_normal(64).tolist()) for i in range(40)]
    twin = list(vecs[5][1])
    twin[0] += 0.01                      # near-identical twin of vec 5
    vecs.append((99, twin))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = embedding_near_dups(df, threshold=0.95).collect()
    assert any((r["vec_a"], r["vec_b"]) == (5, 99) for r in pairs)
    assert all(r["cosine"] >= 0.95 for r in pairs)


def test_characterize_columns(spark):
    from xponents_spark.pipeline import characterize
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "HELLO"), (2, "北京 visit"), (3, "في بغداد")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in characterize(df).collect()}
    assert rows[0]["is_lower"] and not rows[0]["is_upper"]
    assert rows[1]["is_upper"]
    assert rows[2]["has_cjk"] and not rows[2]["has_mideast"]
    assert rows[3]["has_mideast"]


def test_ann_bruteforce_topk(spark, sf_dir):
    from xponents_spark.operators.similarity import cosine_topk_bruteforce
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter("vec_id < 3").collect()]
    top = cosine_topk_bruteforce(emb, qs, k=5).collect()
    assert len(top) == 15
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert all(r["vec_id"] != q for r in rows)


def test_exploded_matches_shape(spark, sf_dir):
    t = synthesize_transcripts(spark, sf_dir).limit(60)
    ex = exploded_matches(extract(t))
    rows = ex.collect()
    assert rows
    assert {"conv_id", "turn_idx", "span_start", "label"} <= set(ex.columns)


def test_conversation_scope_rescoring(spark):
    """Two-pass conversation-scope extraction: a confident country mention
    in one turn flips an ambiguous city in another turn of the SAME
    conversation; other conversations are untouched.  Both sides of the
    redo tag: c1's ambiguous turn is redone, c2's equally ambiguous turn
    has no vote and passes through as pass 1 wrote it."""
    import datetime
    from xponents_spark.pipeline import (AMBIGUOUS_CONFIDENCE,
                                         DEFAULT_FEATURES,
                                         extract_conversation_scoped,
                                         extract_turn)
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "we are based in United States these days", None, ts),
        ("c1", 1, "assistant", "meet in Vancouver next week", None, ts),
        ("c2", 0, "user", "meet in Vancouver next week", None, ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    res = extract_conversation_scoped(df).collect()
    out = {(r["conv_id"], r["turn_idx"]):
           [(m["label"], m["matchtext"], m["cc"], m["confidence"])
            for m in r["matches"]] for r in res}
    assert len(res) == len(out) == len(rows)         # each key exactly once
    pass1 = {(c, i): [(m["label"], m["matchtext"], m["cc"], m["confidence"])
                      for m in extract_turn(text, DEFAULT_FEATURES)[1]]
             for c, i, _r, text, _t, _ts in rows}
    # the Vancouver turns are ambiguous in pass 1, in both conversations
    for k in (("c1", 1), ("c2", 0)):
        assert [(lab, cc) for lab, _t, cc, conf in pass1[k]
                if conf < AMBIGUOUS_CONFIDENCE] == [("place", "CA")]
    assert [m[:3] for m in out[("c1", 1)]] == [
        ("place", "Vancouver", "US")]                # conv context applied
    assert out[("c1", 0)] == pass1[("c1", 0)]        # voter, not ambiguous
    assert out[("c2", 0)] == pass1[("c2", 0)]        # no vote: unchanged


def test_conversation_scope_taxcat_env_read_once(spark, tmp_path,
                                                  monkeypatch):
    """XPONENTS_TAXCAT_PARQUET is read on the driver, once, for both
    passes: set after the session started, it never reaches the python
    workers' environment, yet the re-extracted turn must tag taxons from
    the same file as pass 1."""
    from xponents_spark.pipeline import extract_conversation_scoped
    monkeypatch.setenv("XPONENTS_TAXCAT_PARQUET",
                       _one_org_taxcat(spark, tmp_path))
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "we are based in United States these days", None, ts),
        ("c1", 1, "assistant", "meet Zorblax Dynamics in Vancouver next week",
         None, ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = {(r["conv_id"], r["turn_idx"]):
           sorted((m["label"], m["matchtext"], m["cc"]) for m in r["matches"]
                  if m["label"] in ("place", "org"))
           for r in extract_conversation_scoped(
               df, work_dir=str(tmp_path / "wd")).collect()}
    # the re-extracted turn (conversation country applied) still tags
    # the org from the driver's taxcat file
    assert out[("c1", 1)] == [("org", "Zorblax Dynamics", None),
                              ("place", "Vancouver", "US")]


def test_ivf_topk_recall(spark, sf_dir):
    """IVF ANN: deterministic centroids, and probing nprobe lists recovers
    most of the exact top-k (recall vs brute force >= 0.6 at nprobe=4/16)."""
    from xponents_spark.operators.similarity import (
        cosine_topk_bruteforce, cosine_topk_ivf, train_ivf_centroids)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter("vec_id < 5").collect()]
    cents1 = train_ivf_centroids(emb)
    cents2 = train_ivf_centroids(emb)
    assert (cents1 == cents2).all()          # deterministic training

    exact = {}
    for r in cosine_topk_bruteforce(emb, qs, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in cosine_topk_ivf(emb, qs, k=5, nprobe=4, centroids=cents1).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
               for q in exact]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_gazetteer_etl_semantics(spark, sf_dir):
    """S5 ETL: dedup keeps one row per (name, geography, feature); trivial
    lowercase shorts become search_only (excluded); codes pass for admin
    features; id_bias follows the 70/30 population/feature gradient."""
    from xponents_spark.sources.gazetteer_etl import (
        gazetteer_etl, synthesize_raw_gazetteer)
    raw = synthesize_raw_gazetteer(spark, sf_dir)
    out = gazetteer_etl(raw).collect()
    n_raw = raw.count()
    names = [r["name"] for r in out]
    assert len(names) == len(set((r["name"], r["name_type"]) for r in out))
    assert len(out) < n_raw                       # dupes + search_only gone
    assert all(not r["search_only"] for r in out)
    assert all(r["name_bias"] >= 0 for r in out)
    # trivial lowercase 4-char variants must have been pared out
    assert not [n for n in names if n == n.lower() and len(n) < 5]
    # codes survive only as admin features, with neutral name_bias
    codes = [r for r in out if r["name_type"] == "C"]
    assert codes and all(r["feat_class"] == "A" and r["name_bias"] == 0
                         for r in codes)
    # higher population -> higher id_bias within the same feature
    full = {r["name"]: r for r in out if r["name_type"] == "N"}
    pops = sorted(full.values(), key=lambda r: r["pop"])
    assert pops[0]["id_bias"] <= pops[-1]["id_bias"]


def test_office_format_roundtrips():
    """S1 office coverage: DOCX / ODT / RTF text recovery (stdlib zip+XML /
    control-word stream), exact roundtrip through deterministic writers."""
    from xponents_spark.textract import convert_document, doc_kind
    from xponents_spark.textract.office import (extract_rtf_text,
                                                make_simple_docx,
                                                make_simple_rtf)

    t = "Crisis in Falluja — café naïve.\nSecond line 北京 text."
    docx = make_simple_docx(t)
    rtf = make_simple_rtf(t)
    assert doc_kind(docx) == "docx"
    assert doc_kind(rtf) == "rtf"
    flat = t.replace("\n", " ")
    assert convert_document(docx) == flat
    assert convert_document(rtf) == flat
    # RTF escapes: hex, unicode-with-fallback-char, skipped destinations
    raw = (rb"{\rtf1\ansi{\fonttbl{\f0 X;}}{\*\generator Foo 1.0;}"
           rb"caf\'e9 \u21271 ?north\par second}")
    assert extract_rtf_text(raw) == "caf\xe9 \u5317north\nsecond"


def test_mojibake_repair():
    """decode_bytes repairs UTF-8-read-as-cp1252 double encoding; clean
    text in any script is untouched; mixed clean+broken strings are left
    alone rather than half-repaired (whole-string strict contract)."""
    from xponents_spark.textract import decode_bytes, repair_mojibake

    assert repair_mojibake("cafÃ© naÃ¯ve â€” ok") == "café naïve — ok"
    assert repair_mojibake("42Â° north") == "42° north"
    # double mojibake: two passes undo it
    twice = ("café".encode("utf-8").decode("cp1252")
             .encode("utf-8").decode("cp1252"))
    assert repair_mojibake(twice) == "café"
    # clean text with legit accents / CJK / cyrillic: untouched
    for clean in ["café naïve", "北京 text", "Москва", "plain ascii",
                  "Ångström Â° alone?"]:   # mixed clean+broken -> no-op
        assert repair_mojibake(clean) == clean
    # integrated: utf-8 payloads route through the repair
    assert decode_bytes("cafÃ©".encode("utf-8")) == "café"
    assert decode_bytes("café".encode("cp1252")) == "café"


def test_xlsx_pptx_roundtrips():
    """S1 round-5 office coverage: XLSX (SST resolution, inlineStr, sheet
    order) and PPTX (DrawingML runs, numeric slide order >9 slides)."""
    from xponents_spark.textract import convert_document, doc_kind
    from xponents_spark.textract.office import (extract_pptx_text,
                                                extract_xlsx_text,
                                                make_simple_pptx,
                                                make_simple_xlsx)

    # ten+ lines forces slide10.xml after slide9.xml (numeric ordering)
    lines = [f"line {i} caf\u00e9 \u5317\u4eac" for i in range(11)]
    t = "\n".join(lines)
    xlsx, pptx = make_simple_xlsx(t), make_simple_pptx(t)
    assert doc_kind(xlsx) == "xlsx" and doc_kind(pptx) == "pptx"
    assert extract_xlsx_text(xlsx) == t
    assert extract_pptx_text(pptx) == t
    assert convert_document(xlsx) == t.replace("\n", " ")
    # 11 worksheets: workbook order == numeric order; lexicographic
    # (sheet10/sheet11 before sheet2) would scramble the roundtrip
    # (ADVICE r5 medium)
    assert extract_xlsx_text(make_simple_xlsx(t, sheet_per_line=True)) == t
    # workbook.xml order BEATS numeric filename order: list sheet2
    # before sheet1 and the text must follow the workbook tab order
    import io
    import zipfile
    ws = lambda txt: (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
        'formats.org/spreadsheetml/2006/main"><sheetData><row r="1">'
        f'<c r="A1" t="inlineStr"><is><t>{txt}</t></is></c>'
        '</row></sheetData></worksheet>')
    wb = ('<workbook xmlns="http://schemas.openxmlformats.org/'
          'spreadsheetml/2006/main" xmlns:r="http://schemas.openxml'
          'formats.org/officeDocument/2006/relationships"><sheets>'
          '<sheet name="B" sheetId="1" r:id="r2"/>'
          '<sheet name="A" sheetId="2" r:id="r1"/></sheets></workbook>')
    rels = ('<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships">'
            '<Relationship Id="r1" Type="t" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="r2" Type="t" Target="worksheets/sheet2.xml"/>'
            '</Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", ws("first-file"))
        z.writestr("xl/worksheets/sheet2.xml", ws("second-file"))
    assert extract_xlsx_text(buf.getvalue()) == "second-file\nfirst-file"
    # inlineStr + literal <v> cells and a dangling SST ref (skipped, not
    # IndexError \u2014 hostile-table contract)
    sheet_xml = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
        b'formats.org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="A1" t="inlineStr"><is><t>inline cell</t></is></c>'
        b'<c r="B1"><v>42</v></c><c r="C1" t="s"><v>99</v></c></row>'
        b'</sheetData></worksheet>')
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    assert extract_xlsx_text(buf.getvalue()) == "inline cell\t42"


def test_resumable_with_physical_bucket_column(spark, sf_dir, tmp_path):
    """Pre-bucketed input (a write_bucketed table read back, carrying its
    _bucket column): stage-0 bucketize is skipped and the per-bucket
    filter prunes at the source — results identical to the
    self-bucketizing path."""
    import os

    from xponents_spark.plans import write_bucketed

    t = synthesize_transcripts(spark, sf_dir)
    src = str(tmp_path / "bucketed_src")
    write_bucketed(t, src, buckets=3)
    out = str(tmp_path / "run_bc")
    m = run_resumable(spark.read.parquet(src), out, buckets=3,
                      input_desc="pre-bucketed")
    assert sum(r["rows"] for r in m) == 500
    assert not os.path.exists(os.path.join(out, "_input"))  # no stage 0
    assert read_resumable_output(spark, out).count() == 500


def test_resumable_refuses_buckets_it_would_not_read(spark, sf_dir,
                                                     tmp_path):
    """A table bucketed 8 ways, run with buckets=4: the bucket loop reads
    _bucket 0..3 only, so the run must raise before any manifest commits
    instead of committing every bucket with the rows of 4..7 missing.  A
    NULL _bucket is refused the same way."""
    import os

    import pytest

    from xponents_spark.plans import write_bucketed

    t = synthesize_transcripts(spark, sf_dir)
    src = str(tmp_path / "bucketed8")
    write_bucketed(t, src, buckets=8)
    out = str(tmp_path / "run4")
    with pytest.raises(ValueError, match=r"buckets=4.*\[4, 5, 6, 7\]"):
        run_resumable(spark.read.parquet(src), out, buckets=4)
    assert not [n for n in os.listdir(out) if n.startswith("manifest_")]

    nulls = str(tmp_path / "null_bucket")
    (spark.read.parquet(src).filter("_bucket < 4")
     .withColumn("_bucket", F.when(F.col("_bucket") == 0, None)
                 .otherwise(F.col("_bucket")))
     .write.partitionBy("_bucket").parquet(nulls))
    with pytest.raises(ValueError, match=r"\[None\]"):
        run_resumable(spark.read.parquet(nulls), str(tmp_path / "runn"),
                      buckets=4)


def test_winnowing_guarantee_property():
    """Winnowing (SIGMOD'03) guarantee: any shared substring of length
    >= k + window - 1 yields at least one shared fingerprint."""
    import random

    from xponents_spark.operators.dedup import _winnow

    k, w = 5, 4
    rng = random.Random(3)
    alpha = "abcdefgh "
    for _ in range(100):
        shared = "".join(rng.choice(alpha) for _ in range(k + w - 1))
        a = "".join(rng.choice(alpha) for _ in range(30)) + shared
        b = shared + "".join(rng.choice(alpha) for _ in range(30))
        assert set(_winnow(a, k, w)) & set(_winnow(b, k, w)), (a, b)
    # determinism + identity
    t = "identical text identical text"
    assert _winnow(t, k, w) == _winnow(t, k, w)


def test_winnow_prefix_filter_equals_naive(spark):
    """The AllPairs/PPJoin prefix-filtered winnow join is EXACT: identical
    row set (pairs AND fp_jaccard values) to the naive fingerprint-index
    join, on a randomized corpus with pairs on both sides of the
    threshold plus empty/short edge docs (r7 scale path)."""
    import random

    from xponents_spark.operators.dedup import winnow_near_dups

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(120)]
    rows, did = [], 0
    for _ in range(15):
        base = [rng.choice(vocab) for _ in range(rng.randint(5, 60))]
        for _ in range(rng.randint(1, 3)):
            mut = list(base)
            for _ in range(rng.randint(0, max(1, len(mut) // 3))):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((did, " ".join(mut)))
            did += 1
    rows += [(did, ""), (did + 1, ""), (did + 2, "ab"), (did + 3, "ab")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    def norm(df):
        return sorted((r["doc_a"], r["doc_b"], repr(r["fp_jaccard"]))
                      for r in df.collect())

    for thr in (0.4, 0.6, 0.999):
        naive = norm(winnow_near_dups(sdf, threshold=thr,
                                      prefix_filter=False))
        pref = norm(winnow_near_dups(sdf, threshold=thr,
                                     prefix_filter=True))
        assert naive == pref, (thr, naive, pref)
        assert naive, f"thr={thr} produced no pairs — test corpus too thin"


def test_resumable_rejects_bucket_count_change(spark, sf_dir, tmp_path):
    """Resuming with a different bucket count over a committed bucketize
    must fail loudly — silently skipping buckets loses data."""
    import pytest as _pytest

    t = synthesize_transcripts(spark, sf_dir)
    out = str(tmp_path / "run_bc_guard")
    run_resumable(t, out, buckets=4, input_desc="sf0.001")
    with _pytest.raises(ValueError, match="bucket-count mismatch"):
        run_resumable(t, out, buckets=2, input_desc="sf0.001")


def test_rtf_surrogate_pairs_roundtrip():
    """Word-style non-BMP RTF escapes (UTF-16 surrogate \\uN pairs) decode
    to the astral char, never to Arrow-crashing lone surrogates."""
    from xponents_spark.textract.office import extract_rtf_text, make_simple_rtf

    t = "emoji \U0001F600 and astral \U00020000 text"
    assert extract_rtf_text(make_simple_rtf(t)) == t
    raw = rb"{\rtf1\ansi\uc1 \u-10179?\u-8704?}"
    got = extract_rtf_text(raw)
    assert got == "\U0001F600"
    got.encode("utf-8")   # no lone surrogates


def test_remove_duplicated_spans(spark):
    """Removal half of ExactSubstr: covered tokens drop, the rest re-join;
    clean docs pass through unchanged."""
    from xponents_spark.operators.dedup import remove_duplicated_spans

    shared = "the quick brown fox jumps over the lazy sleeping dog"
    docs = spark.createDataFrame([
        (1, "intro words here " + shared + " trailing unique alpha"),
        (2, shared + " totally different ending text follows now"),
        (3, "completely unrelated document with no repeats at all"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in remove_duplicated_spans(docs, k=8).collect()}
    assert got[1]["clean_text"] == "intro words here trailing unique alpha"
    assert got[1]["n_tokens_removed"] == 10
    assert got[2]["clean_text"] == ("totally different ending text "
                                    "follows now")
    assert got[3]["clean_text"] == docs.collect()[2]["text"]
    assert got[3]["n_tokens_removed"] == 0


def test_gopher_quality_filter(spark):
    """Composed curation gate: a clean long doc keeps; planted failure
    modes each produce their reason string."""
    from xponents_spark.operators.textstats import gopher_quality_filter

    clean = ("the quick brown fox jumps over the lazy dog and then walks "
             "into town to buy some fresh bread for the whole family "
             "while a gentle morning rain falls over the quiet streets "
             "and people open their shops for another ordinary day of "
             "honest trade and conversation among friendly neighbours")
    docs = spark.createDataFrame([
        (1, clean),
        (2, "too short"),
        (3, " ".join(["spam spam spam ham"] * 30)),     # repetition-heavy
        (4, " ".join(["!!!", "###", "$$$"] * 40)),      # punct, no stopwords
    ], "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in gopher_quality_filter(docs).collect()}
    assert got[1]["keep"] and got[1]["reasons"] == ""
    assert not got[2]["keep"] and "too-few-words" in got[2]["reasons"]
    assert not got[3]["keep"] and ("top-2gram" in got[3]["reasons"]
                                   or "dup-5grams" in got[3]["reasons"])
    assert not got[4]["keep"] and "punct-heavy" in got[4]["reasons"]
    assert "no-stopwords" in got[4]["reasons"]


def test_duplicated_spans_planted(spark):
    """ExactSubstr spans: a shared 10-token passage across two docs is
    found in BOTH with exact token offsets; overlapping duplicated
    shingles merge to one maximal span; clean docs yield nothing."""
    from xponents_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    docs = spark.createDataFrame([
        (1, "intro words here " + shared + " trailing unique alpha"),
        (2, shared + " totally different ending text follows now"),
        (3, "completely unrelated document with no repeats at all"),
        (4, "self repeat " + shared + " middle bit " + shared),
    ], "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicated_spans(docs, k=8).collect()}
    # doc 1: shared passage at tokens 3..13
    assert (1, 3, 13) in got
    # doc 2: at tokens 0..10
    assert (2, 0, 10) in got
    # doc 3: clean
    assert not any(d == 3 for d, _s, _e in got)
    # doc 4: two separate spans (2..12 and 14..24), not merged
    assert (4, 2, 12) in got and (4, 14, 24) in got
    assert len(got) == 4


def test_repetition_stats_planted(spark):
    """Gopher-family repetition signals on planted structure: exact line
    duplication, dominant 2-gram, duplicated 5-gram, plus the degenerate
    'w w w' clamp and empty-doc NULL guard."""
    from xponents_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame([
        (1, "a b c\na b c\nunique line"),       # one dup line of 3
        (2, "the cat sat on the mat ok then the cat sat on the mat again"),
        (3, "w w w w w w w w w w"),             # degenerate overlap
        (4, ""),                                  # empty
        (5, "all distinct words here now"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in repetition_stats(docs).collect()}
    assert got[1]["n_lines"] == 3
    assert abs(got[1]["dup_line_frac"] - 1 / 3) < 1e-9
    # one repeated 5-char line / 23 chars
    assert abs(got[1]["dup_line_char_frac"] - 5 / 23) < 1e-9
    # doc 2: 'the cat' occurs twice -> top-2gram chars = 2*7
    assert abs(got[2]["top_2gram_char_frac"]
               - 14 / len("the cat sat on the mat ok then the cat sat on "
                          "the mat again")) < 1e-9
    # 'the cat sat on the' (and shifted variants) repeat -> dup 5-grams > 0
    assert got[2]["dup_5gram_char_frac"] > 0
    assert got[3]["top_2gram_char_frac"] == 1.0     # clamped
    assert got[3]["dup_5gram_char_frac"] == 1.0     # clamped
    assert got[4]["dup_line_char_frac"] is None     # empty doc -> NULL
    assert got[5]["dup_line_frac"] == 0.0
    assert got[5]["dup_5gram_char_frac"] == 0.0


def test_quality_score_empty_doc_parity(spark):
    """Empty documents: Spark and DuckDB must both yield NULL ratios (the
    nullif guard — recent DuckDB defaults x/0 to IEEE NaN, which would
    break the value-hash gate on an empty doc)."""
    import duckdb

    from xponents_spark.operators.textstats import quality_score
    from xponents_spark.oracle import QUALITY_ORACLE

    df = spark.createDataFrame([(1, ""), (2, "hello, world!")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in quality_score(df).collect()}
    assert got[1]["punct_ratio"] is None
    assert got[1]["alpha_ratio"] is None
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS "
            "SELECT 1::BIGINT AS doc_id, '' AS text "
            "UNION ALL SELECT 2, 'hello, world!'")
    want = {r[0]: r for r in con.sql(QUALITY_ORACLE).fetchall()}
    for d in (1, 2):
        g = got[d]
        w = want[d]
        assert (g["punct_ratio"], g["alpha_ratio"]) == (w[4], w[5]), d


def test_near_dup_components_transitive(spark):
    """Survivor selection groups A~B~C transitively even when A-C never
    paired directly; unpaired docs stay singleton keepers."""
    from xponents_spark.operators.dedup import near_dup_components

    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)],
                                  ["doc_a", "doc_b"])
    got = {(r.doc_id, r.group_id, r.keep)
           for r in near_dup_components(pairs, docs).collect()}
    assert (2, 0, False) in got        # transitive closure
    assert (0, 0, True) in got
    assert (6, 5, False) in got
    assert (3, 3, True) in got         # singleton keeper
    assert sum(1 for _d, _g, k in got if k) == 5   # 2 groups + 3 singles


def test_near_dup_components_long_chain(spark):
    """A chain-shaped component with diameter far above the round budget of
    plain propagation: pointer jumping must converge it within max_iter and
    label every node with the chain head (round-2 review finding — plain
    min-label propagation silently mislabeled diameter > max_iter)."""
    from xponents_spark.operators.dedup import near_dup_components

    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["doc_a", "doc_b"])
    rows = near_dup_components(pairs, docs, max_iter=12).collect()
    assert all(r.group_id == 0 for r in rows)
    assert sum(1 for r in rows if r.keep) == 1


def test_near_dup_components_raises_on_exhaustion(spark):
    """Exhausting max_iter with labels still moving raises instead of
    returning a silently-wrong grouping."""
    import pytest

    from xponents_spark.operators.dedup import (ComponentsNotConverged,
                                                near_dup_components)

    n = 40
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["doc_a", "doc_b"])
    with pytest.raises(ComponentsNotConverged):
        near_dup_components(pairs, docs, max_iter=2)


def test_gopher_single_pass_matches_relational(spark, sf_dir):
    """The zero-shuffle single-projection gate is row-identical to the
    relational three-frame gate on real documents + planted edge cases
    (empty doc, whitespace-only, newline-final, degenerate repeats)."""
    from xponents_spark.operators.textstats import (
        gopher_quality_filter, gopher_quality_filter_single_pass)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame([
        (100001, ""), (100002, "   "), (100003, "line\nline\nline\nother"),
        (100004, " ".join(["w"] * 80)), (100005, "ends with newline\n"),
    ], "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(edge)
    a = gopher_quality_filter(both).orderBy("doc_id").collect()
    b = gopher_quality_filter_single_pass(both).orderBy("doc_id").collect()
    assert a == b


def test_prefix_dedup_operator(spark):
    from xponents_spark.operators import prefix_dedup
    docs = spark.createDataFrame([
        (1, "a b c d e f g h tail-one"),
        (2, "a b c d e f g h tail-two"),
        (3, "different head entirely x y z w v u"),
    ], "doc_id long, text string")
    rows = prefix_dedup(docs).collect()
    by_n = sorted((r["n_docs"], r["keep_doc"]) for r in rows)
    assert by_n == [(1, 3), (2, 1)]


def test_keyed_mmap_roundtrips_types(tmp_path):
    """Per-column type tags: int/float/bool columns come back typed, not
    stringified (ADVICE r3 — only lat/lon were re-typed before)."""
    from xponents_spark.gazetteer.mmapstore import (MmapKeyedTable,
                                                    build_keyed_mmap)
    rows = [("US", 42, 1.5, True, None), ("US", 7, -2.25, False, "x")]
    build_keyed_mmap(str(tmp_path / "kv"), ["k1", "k1"], rows)
    t = MmapKeyedTable(str(tmp_path / "kv"))
    got = sorted(t.get("k1"))
    assert got == sorted(rows)
    assert t.get("nope") == []


def test_ppm_crlf_and_truncation():
    from xponents_spark.operators.multimodal import decode_ppm, make_ppm
    import numpy as np
    import pytest as _pytest
    good = make_ppm(4, 3, seed=1)
    img = decode_ppm(good)
    # off-spec \r\n delimiter after maxval (some Windows writers)
    crlf = good.replace(b"255\n", b"255\r\n", 1)
    assert np.array_equal(decode_ppm(crlf), img)
    with _pytest.raises(ValueError, match="truncated"):
        decode_ppm(good[:-5])


def test_doc_roundtrip_newline_final():
    """A document whose text ends with \\n must round-trip exactly (only
    Word's single final paragraph mark is stripped)."""
    from xponents_spark.textract.office import (extract_doc_text,
                                                make_simple_doc)
    for text in ("a\n", "line one\nline two\n\n", "plain"):
        assert extract_doc_text(make_simple_doc(text)) == text


def test_conv_scoped_two_pass_resumes_from_checkpoint(spark, sf_dir,
                                                      tmp_path, monkeypatch):
    """Pass 1 of the conversation-scoped rescore is a resumable checkpoint
    table: a second invocation over the same work_dir must (a) produce the
    identical result and (b) never re-run pass-1 extraction (all bucket
    manifests committed), and the returned plan must contain no
    InMemoryRelation (VERDICT r3 item 2) and no anti-join.  The output
    keys are the input keys, each exactly once."""
    from xponents_spark.pipeline import extract_conversation_scoped
    from xponents_spark.sources import synthesize_transcripts

    t = synthesize_transcripts(spark, sf_dir)
    wd = str(tmp_path / "convscope")
    out1 = extract_conversation_scoped(t, work_dir=wd)
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    # pass 2 is one keyed merge: tagged rows split by complementary
    # filters, no anti-join to find the kept rows
    assert "LeftAnti" not in plan
    rows1 = sorted(map(tuple, out1.select("conv_id", "turn_idx").collect()))
    # every input key comes out exactly once
    assert rows1 == sorted(map(tuple, t.select("conv_id", "turn_idx")
                                       .collect()))
    assert len(set(rows1)) == len(rows1)

    # resume: every bucket manifest is committed, so pass-1 extract must
    # not be invoked again — make it explode if it is
    import xponents_spark.plans.checkpoints as cp

    def boom(*a, **k):
        raise AssertionError("pass-1 extract re-ran on resume")

    monkeypatch.setattr(cp, "extract", boom)
    out2 = extract_conversation_scoped(t, work_dir=wd)
    rows2 = sorted(map(tuple, out2.select("conv_id", "turn_idx").collect()))
    assert rows1 == rows2


def test_conv_scoped_over_bucketed_input_skips_stage0(spark, sf_dir,
                                                      tmp_path):
    """The conversation-scoped pass over a write_bucketed table reads its
    layout: no stage 0 (no _input/ copy), and the same rows as over the
    same turns unbucketed."""
    import os

    from xponents_spark.pipeline import extract_conversation_scoped
    from xponents_spark.plans import write_bucketed

    t = synthesize_transcripts(spark, sf_dir)
    src = str(tmp_path / "bucketed")
    write_bucketed(t, src, buckets=4)
    cols = ("conv_id", "turn_idx", "main_text", "matches")

    def rows(df, wd):
        out = extract_conversation_scoped(df, work_dir=wd, buckets=4)
        return sorted(map(tuple, out.select(*cols).collect()))

    plain = rows(t, str(tmp_path / "plain"))
    wd = str(tmp_path / "bucketed_wd")
    assert rows(spark.read.parquet(src), wd) == plain
    assert len(plain) == 500
    assert not os.path.exists(os.path.join(wd, "_input"))
    assert os.path.exists(os.path.join(str(tmp_path / "plain"), "_input"))


def test_prebucketed_plan_has_no_exchange(spark, sf_dir, tmp_path):
    """Flagship 100 TB path: over a conv_id-bucketed input table the whole
    extraction job must plan as scan -> MapInPandas (zero Exchange) — the
    salting repartition is provably droppable when the layout already
    spreads conversations (SCALE.md claim, VERDICT r3 item 3).  An
    unbucketed input must still salt (exactly one Exchange)."""
    from xponents_spark.pipeline import extract
    from xponents_spark.plans import (prepare_input, read_bucketed,
                                      write_bucketed)
    from xponents_spark.sources import synthesize_transcripts

    t = synthesize_transcripts(spark, sf_dir)
    path = str(tmp_path / "bucketed")
    write_bucketed(t, path, buckets=8)
    src, meta = read_bucketed(spark, path)
    assert meta == {"bucketed_by": "conv_id", "buckets": 8,
                    "transform": "pmod(hash(col), buckets)"}

    out = extract(prepare_input(src, meta)).select("conv_id", "turn_idx",
                                                   "main_text", "matches")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan

    salted = extract(prepare_input(src, None)).select("conv_id", "turn_idx")
    plan2 = salted._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 1

    # and the zero-shuffle output matches the salted output
    a = sorted(map(tuple, out.select("conv_id", "turn_idx",
                                     F.size("matches")).collect()))
    b = sorted(map(tuple,
                   extract(prepare_input(src, None))
                   .select("conv_id", "turn_idx", F.size("matches"))
                   .collect()))
    assert a == b


def test_gif_bmp_codecs_roundtrip():
    """Pure-python GIF87a (real LZW, incl. the 4096-code table reset) and
    24-bit BMP: pixel and text roundtrips are exact."""
    import numpy as np

    from xponents_spark.operators.multimodal import (
        _lzw_decode_gif, _lzw_encode_gif, decode_bmp, decode_gif,
        decode_text_bmp, decode_text_gif, make_bmp, make_gif, make_text_bmp,
        make_text_gif)

    for data in (b"", b"a", bytes(range(256)) * 40,
                 b"the quick brown fox " * 3000):   # > 4096 LZW codes
        assert _lzw_decode_gif(_lzw_encode_gif(data)) == data

    img = decode_gif(make_gif(33, 17, seed=5))
    y, x = np.mgrid[0:17, 0:33]
    exp = ((x * 7 + y * 11 + 5) % 256).astype(np.uint8)
    assert np.array_equal(img, np.dstack([exp] * 3))

    bimg = decode_bmp(make_bmp(31, 13, seed=3))
    assert bimg.shape == (13, 31, 3) and bimg[0, 1, 0] == (7 + 3) % 256

    for t in ("", "hello", "héllo wörld — ünïcode ✓", "x" * 300_000):
        assert decode_text_gif(make_text_gif(t)) == t
        assert decode_text_bmp(make_text_bmp(t)) == t


def test_gif_conformance_vs_java_imageio(tmp_path):
    """The GIF87a writer must be decodable by an INDEPENDENT decoder, not
    just our own LZW: javac+java (in this container) decode via
    javax.imageio and must reproduce the exact pixel sum.  Skips when no
    JDK is present."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.multimodal import decode_gif, make_gif

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    g = make_gif(16, 8, seed=9)
    (tmp_path / "t.gif").write_bytes(g)
    (tmp_path / "GifCheck.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.File;\n'
        'public class GifCheck { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage img = ImageIO.read(new File(a[0]));\n'
        '  long sum = 0;\n'
        '  for (int y = 0; y < img.getHeight(); y++)\n'
        '    for (int x = 0; x < img.getWidth(); x++)\n'
        '      sum += (img.getRGB(x, y) >> 16) & 0xFF;\n'
        '  System.out.println(img.getWidth() + "x" + img.getHeight()'
        ' + " " + sum);\n'
        '}}\n')
    subprocess.run(["javac", "GifCheck.java"], cwd=tmp_path, check=True)
    out = subprocess.run(["java", "GifCheck", "t.gif"], cwd=tmp_path,
                         check=True, capture_output=True, text=True)
    ours = decode_gif(g)
    expect = f"16x8 {int(ours[:, :, 0].astype(np.int64).sum())}"
    assert out.stdout.strip() == expect


def test_media_features_real_gif_bmp(spark):
    """decoder='auto' really decodes BMP/GIF payloads (features = pixel
    statistics, not payload hashes)."""
    import numpy as np

    from xponents_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_media_features, image_features, decode_bmp,
        decode_gif, make_bmp, make_gif)

    rows = [(0, make_bmp(16, 16, seed=2),
             {"mime": "image/bmp", "width": 16, "height": 16,
              "duration_ms": None}),
            (1, make_gif(16, 16, seed=4),
             {"mime": "image/gif", "width": 16, "height": 16,
              "duration_ms": None})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r["features"]
           for r in extract_media_features(df).collect()}
    assert np.allclose(got[0], image_features(decode_bmp(rows[0][1])))
    assert np.allclose(got[1], image_features(decode_gif(rows[1][1])))


def test_xls_continue_split_sst():
    """Giant SSTs spill into Continue records; strings split at character
    boundaries re-emit the option byte (incl. encoding switches and a
    header landing exactly at a record end)."""
    from xponents_spark.textract.office import (extract_xls_text,
                                                make_simple_xls)
    cases = [
        "x" * 30000,                       # one giant compressed string
        "ünïcodé ✓ " * 2500,               # giant UTF-16 string
        "\n".join(f"line {i} with some words" for i in range(2000)),
        "\n".join(("unicode ✓" if i % 3 else "plain ascii") * (i % 7 + 1)
                  for i in range(1500)),
    ]
    for t in cases:
        assert extract_xls_text(make_simple_xls(t)) == t
        # tiny record caps force every split path incl. header-at-boundary
        assert extract_xls_text(make_simple_xls(t, max_record=64)) == t
        assert extract_xls_text(make_simple_xls(t, max_record=17)) == t


def test_encrypted_doc_rc4():
    """Word97 RC4 password encryption ([MS-OFFCRYPTO] 2.3.6): roundtrip
    with the right password (incl. multi-512-byte-block bodies), typed
    errors without/with a wrong one, graceful pipeline degrade."""
    import pytest as _pytest

    from xponents_spark.textract import convert_document_kind
    from xponents_spark.textract.office import (EncryptedDocError,
                                                extract_doc_text,
                                                make_encrypted_doc)

    for text in ("hello encrypted world", "multi\nline\ndoc\n",
                 "ünïcode ✓ " * 500, ""):
        enc = make_encrypted_doc(text, "s3cret")
        assert extract_doc_text(enc, password="s3cret") == text
    enc = make_encrypted_doc("top secret", "pw")
    with _pytest.raises(EncryptedDocError, match="password required"):
        extract_doc_text(enc)
    with _pytest.raises(EncryptedDocError, match="wrong password"):
        extract_doc_text(enc, password="nope")
    # the Spark conversion stage degrades instead of failing the task
    assert convert_document_kind(enc) == ("", "doc-encrypted")
    assert convert_document_kind(enc, "pw") == ("top secret", "doc")


def test_ivf_persisted_index(spark, sf_dir, tmp_path):
    """Persisted IVF layout: corpus partitioned by list_id + centroid
    sidecar; indexed query equals in-memory IVF with the same centroids,
    and the probed scan plans with a list_id partition filter (the
    pruning that makes query cost independent of corpus size)."""
    from pyspark.sql import functions as F

    from xponents_spark.operators.similarity import (build_ivf_index,
                                                     cosine_topk_ivf,
                                                     cosine_topk_ivf_indexed)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter("vec_id < 5").collect()]
    path = str(tmp_path / "ivf_index")
    centroids = build_ivf_index(emb, path, n_centroids=8)
    import os
    assert os.path.exists(f"{path}/_centroids.npy")
    assert any(d.startswith("list_id=") for d in os.listdir(path))

    got = cosine_topk_ivf_indexed(spark, path, qs, k=5, nprobe=3)
    want = cosine_topk_ivf(emb, qs, k=5, nprobe=3, centroids=centroids)
    a = sorted(map(tuple, got.select("query_id", "vec_id", "rank").collect()))
    b = sorted(map(tuple, want.select("query_id", "vec_id", "rank").collect()))
    assert a == b and len(a) == 25

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan


def test_png_codec_roundtrip_and_conformance(tmp_path):
    """Real PNG decode (stdlib zlib + filter reconstruction): text/pixel
    roundtrips exact, and TWO-WAY conformance vs Java ImageIO — ImageIO
    decodes our PNG to the same pixels, and our decoder pixel-exactly
    reads a PNG written by ImageIO's encoder (real filter selection:
    Sub/Up/Paeth chosen per row).  Skips without a JDK."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.multimodal import (decode_png,
                                                     decode_text_png,
                                                     make_png,
                                                     make_text_png)

    for t in ("", "hello", "héllo wörld ✓", "x" * 300_000):
        assert decode_text_png(make_text_png(t)) == t
    img = decode_png(make_png(33, 17, seed=5))
    y, x = np.mgrid[0:17, 0:33]
    exp = np.dstack([(x * 7 + 5) % 256, (y * 11 + 15) % 256,
                     ((x + y) * 5 + 35) % 256]).astype(np.uint8)
    assert np.array_equal(img, exp)

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    (tmp_path / "ours.png").write_bytes(make_png(16, 8, seed=9))
    (tmp_path / "PngCheck.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.File;\n'
        'public class PngCheck { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage img = ImageIO.read(new File("ours.png"));\n'
        '  long s = 0;\n'
        '  for (int y = 0; y < img.getHeight(); y++)\n'
        '    for (int x = 0; x < img.getWidth(); x++)\n'
        '      s += (img.getRGB(x, y) >> 16) & 0xFF;\n'
        '  System.out.println(s);\n'
        '  BufferedImage o = new BufferedImage(61, 37,'
        ' BufferedImage.TYPE_INT_RGB);\n'
        '  for (int y = 0; y < 37; y++)\n'
        '    for (int x = 0; x < 61; x++)\n'
        '      o.setRGB(x, y, (((x*13+y*7)%256) << 16) |'
        ' (((x*3+y*31)%256) << 8) | ((x*x+y)%256));\n'
        '  ImageIO.write(o, "png", new File("java.png"));\n'
        '}}\n')
    subprocess.run(["javac", "PngCheck.java"], cwd=tmp_path, check=True)
    out = subprocess.run(["java", "PngCheck"], cwd=tmp_path, check=True,
                         capture_output=True, text=True)
    ours = decode_png((tmp_path / "ours.png").read_bytes())
    assert out.stdout.strip() == str(int(ours[:, :, 0].astype(np.int64).sum()))
    j = decode_png((tmp_path / "java.png").read_bytes())
    y, x = np.mgrid[0:37, 0:61]
    exp = np.dstack([(x * 13 + y * 7) % 256, (x * 3 + y * 31) % 256,
                     (x * x + y) % 256]).astype(np.uint8)
    assert np.array_equal(j, exp)


def test_jpeg_codec_and_conformance(tmp_path):
    """Baseline JPEG (pure python/numpy: Huffman + DCT + YCbCr): lossy
    roundtrip error bounded on smooth content, and two-way cross-decode
    vs Java ImageIO — both decoders agree on OUR bitstream to within
    IDCT rounding, and our decoder reads an ImageIO-WRITTEN file (its
    own tables, 4:2:0 subsampling) within interpolation tolerance."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.jpeg import decode_jpeg, make_jpeg

    y, x = np.mgrid[0:16, 0:24]
    img = np.dstack([np.minimum(x * 9 + 3, 255),
                     np.minimum(y * 13 + 3, 255),
                     np.minimum(x * 2 + y * 3 + 3, 255)]).astype(np.uint8)
    dec = decode_jpeg(make_jpeg(24, 16, pixels=img))
    assert dec.shape == (16, 24, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 4.0

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    (tmp_path / "ours.jpg").write_bytes(make_jpeg(48, 32, seed=7))
    (tmp_path / "JpgCheck.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.*;\n'
        'public class JpgCheck { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage img = ImageIO.read(new File("ours.jpg"));\n'
        '  DataOutputStream o = new DataOutputStream('
        'new FileOutputStream("ours_java.rgb"));\n'
        '  for (int y = 0; y < img.getHeight(); y++)\n'
        '    for (int x = 0; x < img.getWidth(); x++) {\n'
        '      int p = img.getRGB(x, y);\n'
        '      o.writeByte((p >> 16) & 255); o.writeByte((p >> 8) & 255);'
        ' o.writeByte(p & 255); }\n'
        '  o.close();\n'
        '  BufferedImage out = new BufferedImage(40, 24,'
        ' BufferedImage.TYPE_INT_RGB);\n'
        '  for (int y = 0; y < 24; y++)\n'
        '    for (int x = 0; x < 40; x++)\n'
        '      out.setRGB(x, y, ((x*5+20) << 16) | ((y*9+10) << 8)'
        ' | (255-x*4));\n'
        '  ImageIO.write(out, "jpg", new File("java.jpg"));\n'
        '  BufferedImage chk = ImageIO.read(new File("java.jpg"));\n'
        '  DataOutputStream o2 = new DataOutputStream('
        'new FileOutputStream("java_java.rgb"));\n'
        '  for (int y = 0; y < 24; y++)\n'
        '    for (int x = 0; x < 40; x++) {\n'
        '      int p = chk.getRGB(x, y);\n'
        '      o2.writeByte((p >> 16) & 255); o2.writeByte((p >> 8) & 255);'
        ' o2.writeByte(p & 255); }\n'
        '  o2.close();\n'
        '}}\n')
    subprocess.run(["javac", "JpgCheck.java"], cwd=tmp_path, check=True)
    subprocess.run(["java", "JpgCheck"], cwd=tmp_path, check=True)
    ours = decode_jpeg((tmp_path / "ours.jpg").read_bytes())
    jv = np.frombuffer((tmp_path / "ours_java.rgb").read_bytes(),
                       dtype=np.uint8).reshape(32, 48, 3)
    assert np.abs(ours.astype(int) - jv.astype(int)).max() <= 8
    theirs = decode_jpeg((tmp_path / "java.jpg").read_bytes())
    jj = np.frombuffer((tmp_path / "java_java.rgb").read_bytes(),
                       dtype=np.uint8).reshape(24, 40, 3)
    assert np.abs(theirs.astype(int) - jj.astype(int)).mean() < 5.0


def test_mp4_container_and_frame_sampling(spark):
    """ISO-BMFF container parsing is REAL (pure stdlib): movie/track
    metadata and the stts/stsz/stsc/stco sample tables flatten to exact
    (timestamp, byte-range) triples, and sample_frames schedules on them
    — hashing each sample's true mdat byte slice — while opaque payloads
    keep the duration_ms fallback."""
    import hashlib

    from xponents_spark.operators.mp4 import (make_minimal_mp4, parse_mp4,
                                              sample_table, video_track)
    from xponents_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                     _fake_decode,
                                                     sample_frames)

    p = make_minimal_mp4(n_frames=10, fps=5, frame_size=32, seed=3)
    info = parse_mp4(p)
    assert info.duration_ms == 2000 and info.brands[0] == "isom"
    st = sample_table(video_track(info))
    assert len(st) == 10 and st[0][0] == 0 and st[1][0] == 200
    # byte range of sample 3 is exactly the writer's payload
    t3 = st[3]
    assert p[t3[1]:t3[1] + t3[2]] == bytes(
        (3 * 31 + 3 * 7 + j) % 256 for j in range(32))

    rows = [(0, p, {"mime": "video/mp4", "width": None, "height": None,
                    "duration_ms": 2000}),
            (1, b"\x00opaque", {"mime": "video/mp4", "width": None,
                                "height": None, "duration_ms": 2500})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = sample_frames(df, every_ms=1000).collect()
    real = sorted(r["frame_ms"] for r in got if r["media_id"] == 0)
    fallback = sorted(r["frame_ms"] for r in got if r["media_id"] == 1)
    assert real == [0, 1000]          # nearest samples at the 1s ticks
    assert fallback == [0, 1000, 2000]
    # the real path hashed the sample's exact byte slice
    f0 = next(r["features"] for r in got
              if r["media_id"] == 0 and r["frame_ms"] == 0)
    assert f0 == _fake_decode(p[st[0][1]:st[0][1] + st[0][2]])


def test_malformed_payloads_raise_valueerror_not_crash():
    """Hostile/truncated payloads must raise ValueError (the malformed-
    payload class decoder='auto' catches), never IndexError/KeyError/
    TypeError escaping the Arrow stage (ADVICE r4): truncated GIF block
    walks, palette PNG indices beyond the PLTE, JPEG with SOS before SOF
    or missing DHT/DQT."""
    import struct
    import zlib

    import pytest

    from xponents_spark.operators.jpeg import decode_jpeg, make_jpeg
    from xponents_spark.operators.multimodal import (
        _png_chunk, _PNG_SIG, decode_gif, decode_png, make_gif)

    # GIF truncated at various points inside the block structure
    g = make_gif(16, 8, seed=1)
    for cut in (10, 14, len(g) // 2, len(g) - 2):
        with pytest.raises(ValueError):
            decode_gif(g[:cut])
    # extension block that runs off the end
    trunc_ext = g[:13] + g[13:13 + 768] + b"\x21\xf9\xff"
    with pytest.raises(ValueError):
        decode_gif(trunc_ext)

    # palette PNG whose indices exceed the 2-entry PLTE
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    raw = b"\x00\x07\x00"          # filter 0, indices 7 and 0
    bad_pal = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"PLTE", b"\x01\x02\x03\x04\x05\x06")
               + _png_chunk(b"IDAT", zlib.compress(raw))
               + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(bad_pal)

    # JPEG: SOS before SOF (strip the SOF0 segment from a valid stream)
    j = make_jpeg(16, 16)
    sof_at = j.find(b"\xff\xc0")
    (sof_len,) = struct.unpack_from(">H", j, sof_at + 2)
    no_sof = j[:sof_at] + j[sof_at + 2 + sof_len:]
    with pytest.raises(ValueError):
        decode_jpeg(no_sof)
    # JPEG: missing Huffman tables (strip every DHT)
    out = bytearray()
    i = 0
    while i < len(j):
        if j[i] == 0xFF and i + 4 <= len(j) and j[i + 1] == 0xC4:
            (ln,) = struct.unpack_from(">H", j, i + 2)
            i += 2 + ln
        else:
            out.append(j[i])
            i += 1
    with pytest.raises(ValueError):
        decode_jpeg(bytes(out))


def test_mp4_hostile_stsc_first_chunk_zero():
    """A corrupt stsc run with first_chunk=0 must not read stco[-1] via
    negative indexing (silently wrong offsets): the run is clamped to
    chunk 1 and the schedule stays within the real chunk table."""
    from xponents_spark.operators.mp4 import (
        make_minimal_mp4, parse_mp4, sample_table, video_track)

    payload = make_minimal_mp4(n_frames=6, fps=3, frame_size=16)
    track = video_track(parse_mp4(payload))
    good = sample_table(track)
    track.stsc = [(0, 2)] + [(f, p) for f, p in track.stsc[1:]]
    clamped = sample_table(track)
    good_offsets = {off for _t, off, _s in good}
    assert all(off in good_offsets or off >= min(good_offsets)
               for _t, off, _s in clamped)
    assert min(off for _t, off, _s in clamped) >= min(good_offsets)


def test_png_adam7_interlaced_roundtrip_and_conformance(tmp_path):
    """Adam7 interlaced PNG (round 5): our encoder/decoder roundtrip
    exactly on odd sizes, Java ImageIO reads OUR interlaced bitstream to
    the same pixels, and our decoder pixel-exactly reads an interlaced
    PNG written by ImageIO (progressive MODE_DEFAULT = Adam7 with real
    per-row filter selection).  Skips without a JDK."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.multimodal import (decode_png,
                                                     decode_text_png,
                                                     make_png,
                                                     make_text_png)

    for w, h in ((1, 1), (2, 3), (7, 5), (9, 10), (33, 17)):
        rng = np.random.RandomState(w * 100 + h)
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(make_png(w, h, pixels=px,
                                                  interlace=True)), px)
    for t in ("", "hello", "héllo wörld ✓", "x" * 100_000):
        assert decode_text_png(make_text_png(t, interlace=True)) == t

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    (tmp_path / "ours.png").write_bytes(make_png(19, 11, seed=4,
                                                 interlace=True))
    (tmp_path / "Adam7Check.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import javax.imageio.*;\n'
        'import javax.imageio.stream.*;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.File;\n'
        'public class Adam7Check { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage img = ImageIO.read(new File("ours.png"));\n'
        '  long s = 0;\n'
        '  for (int y = 0; y < img.getHeight(); y++)\n'
        '    for (int x = 0; x < img.getWidth(); x++)\n'
        '      s += (img.getRGB(x, y) >> 8) & 0xFF;\n'
        '  System.out.println(s);\n'
        '  BufferedImage o = new BufferedImage(23, 13,'
        ' BufferedImage.TYPE_INT_RGB);\n'
        '  for (int y = 0; y < 13; y++)\n'
        '    for (int x = 0; x < 23; x++)\n'
        '      o.setRGB(x, y, (((x*17+y*5)%256) << 16) |'
        ' (((x*7+y*29)%256) << 8) | ((x+y*y)%256));\n'
        '  ImageWriter wr = ImageIO.getImageWritersByFormatName("png")'
        '.next();\n'
        '  ImageWriteParam p = wr.getDefaultWriteParam();\n'
        '  p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);\n'
        '  ImageOutputStream os = ImageIO.createImageOutputStream('
        'new File("java7.png"));\n'
        '  wr.setOutput(os);\n'
        '  wr.write(null, new IIOImage(o, null, null), p);\n'
        '  os.close();\n'
        '}}\n')
    subprocess.run(["javac", "Adam7Check.java"], cwd=tmp_path, check=True)
    out = subprocess.run(["java", "Adam7Check"], cwd=tmp_path, check=True,
                         capture_output=True, text=True)
    ours = decode_png((tmp_path / "ours.png").read_bytes())
    assert out.stdout.strip() == str(int(ours[:, :, 1].astype(np.int64).sum()))
    payload = (tmp_path / "java7.png").read_bytes()
    assert payload[28] == 1, "ImageIO did not write an interlaced PNG"
    j = decode_png(payload)
    y, x = np.mgrid[0:13, 0:23]
    exp = np.dstack([(x * 17 + y * 5) % 256, (x * 7 + y * 29) % 256,
                     (x + y * y) % 256]).astype(np.uint8)
    assert np.array_equal(j, exp)


def test_agile_encrypted_ooxml():
    """ECMA-376 agile encryption ([MS-OFFCRYPTO] 2.3.4, round 5): AES
    validated against FIPS-197 / SP 800-38A published vectors; full
    docx roundtrip through the CFB EncryptionInfo/EncryptedPackage
    container; wrong/missing password and HMAC tamper raise typed
    errors; the conversion dispatcher degrades gracefully."""
    import numpy as np
    import pytest as _pytest

    from xponents_spark.textract import convert_document_kind
    from xponents_spark.textract.agile import (
        AgileDecryptError, _decrypt_blocks, _encrypt_blocks, _expand_key,
        aes_cbc_decrypt, aes_cbc_encrypt, decrypt_agile_package,
        make_agile_encrypted)
    from xponents_spark.textract.cfb import CfbReader
    from xponents_spark.textract.office import make_simple_docx

    # FIPS-197 Appendix C (AES-128/192/256 single block)
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vec = {
        "000102030405060708090a0b0c0d0e0f":
            "69c4e0d86a7b0430d8cdb78070b4c55a",
        "000102030405060708090a0b0c0d0e0f1011121314151617":
            "dda97ca4864cdfe06eaf70a0ec0d7191",
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f":
            "8ea2b7ca516745bfeafc49904b496089"}
    for k_hex, ct_hex in vec.items():
        rks = _expand_key(bytes.fromhex(k_hex))
        ct = _encrypt_blocks(
            np.frombuffer(pt, dtype=np.uint8).reshape(1, 16), rks)
        assert ct.tobytes().hex() == ct_hex
        assert _decrypt_blocks(ct, rks).tobytes() == pt
    # NIST SP 800-38A F.2.5 (CBC-AES256)
    key = bytes.fromhex("603deb1015ca71be2b73aef0857d7781"
                        "1f352c073b6108d72d9810a30914dff4")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt4 = bytes.fromhex(
        "6bc1bee22e409f96e93d7e117393172aae2d8a571e03ac9c9eb76fac45af8e51"
        "30c81c46a35ce411e5fbc1191a0a52eff69f2445df4f9b17ad2b417be66c3710")
    ct4 = aes_cbc_encrypt(key, iv, pt4)
    assert ct4.hex().startswith("f58c4c04d6e5f1ba779eabfb5f7bfbd6")
    assert aes_cbc_decrypt(key, iv, ct4) == pt4

    for text in ("", "hello world", "ünïcode ✓ " * 300, "x" * 9000):
        pkg = make_simple_docx(text)
        enc = make_agile_encrypted(pkg, "s3cret-pw")
        assert decrypt_agile_package(CfbReader(enc), "s3cret-pw") == pkg
        got, kind = convert_document_kind(enc, "s3cret-pw")
        exp, _k = convert_document_kind(pkg)
        assert got == exp and kind == "docx"
        assert convert_document_kind(enc, "wrong") == ("", "ooxml-encrypted")
        assert convert_document_kind(enc, None) == ("", "ooxml-encrypted")

    with _pytest.raises(AgileDecryptError, match="password"):
        decrypt_agile_package(
            CfbReader(make_agile_encrypted(make_simple_docx("x"), "pw")),
            None)
    # tamper inside the package ciphertext -> HMAC integrity failure
    pkg = make_simple_docx("integrity check payload " * 50)
    enc = make_agile_encrypted(pkg, "pw")
    raw = CfbReader(enc).read_stream("EncryptedPackage")
    idx = enc.rfind(raw[8:200])
    bad = bytearray(enc)
    bad[idx + 50] ^= 0xFF
    with _pytest.raises(AgileDecryptError, match="HMAC"):
        decrypt_agile_package(CfbReader(bytes(bad)), "pw")


def test_agile_encrypted_docx_spark_stage(spark):
    """convert_binary_docs carries the job password through to the agile
    decrypt inside the Arrow stage."""
    from xponents_spark.textract import convert_binary_docs
    from xponents_spark.textract.agile import make_agile_encrypted
    from xponents_spark.textract.office import make_simple_docx

    texts = ["alpha doc", "beta ünïcode ✓", "gamma " * 400]
    rows = [(i, make_agile_encrypted(make_simple_docx(t), "job-pw"))
            for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    out = {r["doc_id"]: r["text"]
           for r in convert_binary_docs(df, "payload", "text",
                                        doc_password="job-pw").collect()}
    from xponents_spark.textract import squeeze_whitespace
    for i, t in enumerate(texts):
        assert out[i] == squeeze_whitespace(t)


def test_conv_scoped_requires_shared_work_dir_on_cluster():
    """work_dir=None uses a DRIVER-LOCAL tempdir; on a non-local master
    the pass-1 checkpoint table would be invisible to executors, so the
    call must refuse loudly (round 5 cluster contract)."""
    import pytest as _pytest

    from xponents_spark.pipeline import extract_conversation_scoped

    class _Ctx:
        master = "spark://prod-cluster:7077"

    class _Sess:
        sparkContext = _Ctx()

    class _DF:
        sparkSession = _Sess()

    with _pytest.raises(ValueError, match="shared storage"):
        extract_conversation_scoped(_DF())


def test_decoder_malformed_payload_fuzz():
    """Fuzz contract behind decoder='auto' totality: ANY truncation/
    corruption of a valid payload must raise only the malformed-payload
    classes the auto decoder catches — never IndexError/KeyError/
    RuntimeError escaping the Arrow stage.  (Round-5 fuzz found and
    fixed: GIF LZW first-code IndexError, stdlib-wave RuntimeError leak,
    JPEG DHT/SOF truncation IndexError and zero-dimension/zero-sampling
    ZeroDivisionError.)"""
    import random
    import struct as _struct
    import wave as _wave
    import zlib as _zlib

    from xponents_spark.operators.jpeg import decode_jpeg, make_jpeg
    from xponents_spark.operators.multimodal import (
        decode_bmp, decode_gif, decode_png, decode_ppm, decode_wav,
        make_bmp, make_gif, make_png, make_ppm, make_wav)

    allowed = (ValueError, NotImplementedError, EOFError,
               _struct.error, _zlib.error, _wave.Error)
    rng = random.Random(42)
    cases = [(make_gif(24, 8, seed=1), decode_gif),
             (make_png(24, 8, seed=1), decode_png),
             (make_png(24, 8, seed=1, interlace=True), decode_png),
             (make_bmp(24, 8, seed=1), decode_bmp),
             (make_ppm(24, 8, seed=1), decode_ppm),
             (make_wav(100), decode_wav),
             (make_jpeg(24, 16), decode_jpeg)]
    for valid, dec in cases:
        for _trial in range(800):
            b = bytearray(valid)
            op = rng.randrange(3)
            if op == 0:
                b = b[:rng.randrange(len(b))]
            elif op == 1:
                for _ in range(rng.randrange(1, 6)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            else:
                b = b[:rng.randrange(4, len(b))]
                if len(b):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                dec(bytes(b))
            except allowed:
                pass


def test_png16_and_palette_bmp_conformance(tmp_path):
    """Round-5 codec breadth: 16-bit PNG (big-endian samples, hi-byte
    downconversion) and 8-bit palette / RLE8 BMP.  Roundtrips exact;
    Java ImageIO reads our 16-bit PNG to the same sample values, reads
    our palette + RLE8 BMPs pixel-exactly, and we read an indexed BMP
    written by ImageIO.  Skips without a JDK."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.multimodal import (decode_bmp,
                                                     decode_png, make_bmp8,
                                                     make_png)

    rng = np.random.RandomState(11)
    px16 = rng.randint(0, 65536, (9, 13, 3)).astype(np.uint16)
    assert np.array_equal(decode_png(make_png(13, 9, pixels=px16,
                                              bit_depth=16)),
                          (px16 >> 8).astype(np.uint8))
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, (17, 33)).astype(np.uint8)
    for rle in (False, True):
        assert np.array_equal(decode_bmp(make_bmp8(33, 17, idx, pal,
                                                   rle=rle)), pal[idx])

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    (tmp_path / "ours16.png").write_bytes(make_png(13, 9, pixels=px16,
                                                   bit_depth=16))
    (tmp_path / "pal.bmp").write_bytes(make_bmp8(33, 17, idx, pal))
    (tmp_path / "rle.bmp").write_bytes(make_bmp8(33, 17, idx, pal,
                                                 rle=True))
    (tmp_path / "CodecCheck.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import java.awt.image.*;\n'
        'import java.io.File;\n'
        'public class CodecCheck { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage p16 = ImageIO.read(new File("ours16.png"));\n'
        '  Raster r = p16.getRaster();\n'
        '  long s = 0;\n'
        '  for (int y = 0; y < p16.getHeight(); y++)\n'
        '    for (int x = 0; x < p16.getWidth(); x++)\n'
        '      s += r.getSample(x, y, 0);\n'
        '  System.out.println(s);\n'
        '  for (String f : new String[]{"pal.bmp", "rle.bmp"}) {\n'
        '    BufferedImage b = ImageIO.read(new File(f));\n'
        '    long t = 0;\n'
        '    for (int y = 0; y < b.getHeight(); y++)\n'
        '      for (int x = 0; x < b.getWidth(); x++)\n'
        '        t += (b.getRGB(x, y) >> 16) & 0xFF;\n'
        '    System.out.println(t);\n'
        '  }\n'
        '  BufferedImage o = new BufferedImage(21, 7,'
        ' BufferedImage.TYPE_BYTE_INDEXED);\n'
        '  for (int y = 0; y < 7; y++)\n'
        '    for (int x = 0; x < 21; x++)\n'
        '      o.setRGB(x, y, (((x*31+y*3)%256) << 16) |'
        ' (((x*5+y*17)%256) << 8) | ((x+y*11)%256));\n'
        '  ImageIO.write(o, "bmp", new File("javapal.bmp"));\n'
        '}}\n')
    subprocess.run(["javac", "CodecCheck.java"], cwd=tmp_path, check=True)
    out = subprocess.run(["java", "CodecCheck"], cwd=tmp_path, check=True,
                         capture_output=True, text=True)
    lines = out.stdout.split()
    # 16-bit: ImageIO sees the full 16-bit red samples; ours>>8 is the
    # hi byte, so compare against the exact 16-bit sum
    exp16 = int(px16[:, :, 0].astype(np.int64).sum())
    assert lines[0] == str(exp16)
    exp_red = int(pal[idx][:, :, 0].astype(np.int64).sum())
    assert lines[1] == str(exp_red) and lines[2] == str(exp_red)
    j = decode_bmp((tmp_path / "javapal.bmp").read_bytes())
    # ImageIO's indexed write QUANTIZES to its own palette; checking
    # exact source pixels would test its quantizer, not our reader — so
    # require agreement with ImageIO's own readback of the same file
    # (green-channel checksum via a second tiny program)
    (tmp_path / "ReadBack.java").write_text(
        'import javax.imageio.ImageIO;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.File;\n'
        'public class ReadBack { public static void main(String[] a)'
        ' throws Exception {\n'
        '  BufferedImage b = ImageIO.read(new File("javapal.bmp"));\n'
        '  long t = 0;\n'
        '  for (int y = 0; y < b.getHeight(); y++)\n'
        '    for (int x = 0; x < b.getWidth(); x++)\n'
        '      t += (b.getRGB(x, y) >> 8) & 0xFF;\n'
        '  System.out.println(t);\n'
        '}}\n')
    subprocess.run(["javac", "ReadBack.java"], cwd=tmp_path, check=True)
    rb = subprocess.run(["java", "ReadBack"], cwd=tmp_path, check=True,
                        capture_output=True, text=True)
    assert rb.stdout.strip() == str(int(j[:, :, 1].astype(np.int64).sum()))


def test_progressive_jpeg_conformance(tmp_path):
    """Progressive JPEG (T.81 Annex G, round 5): spectral-selection +
    successive-approximation scans accumulate coefficients, EOB runs,
    AC refinement, libjpeg-style triangle chroma upsampling.
    Conformance: ImageIO writes a progressive (SOF2, 4:2:0) stream and
    our decode matches ImageIO's own decode of the same file within
    IDCT rounding (max abs diff <= 4).  Skips without a JDK."""
    import shutil as _shutil
    import subprocess

    import numpy as np
    import pytest as _pytest

    from xponents_spark.operators.jpeg import decode_jpeg

    if not (_shutil.which("javac") and _shutil.which("java")):
        _pytest.skip("no JDK in environment")
    w, h = 48, 32
    (tmp_path / "ProgWrite.java").write_text(
        'import javax.imageio.*;\n'
        'import javax.imageio.stream.*;\n'
        'import java.awt.image.BufferedImage;\n'
        'import java.io.File;\n'
        'public class ProgWrite { public static void main(String[] a)'
        ' throws Exception {\n'
        f'  int w = {w}, h = {h};\n'
        '  BufferedImage o = new BufferedImage(w, h,'
        ' BufferedImage.TYPE_INT_RGB);\n'
        '  for (int y = 0; y < h; y++)\n'
        '    for (int x = 0; x < w; x++)\n'
        '      o.setRGB(x, y, (((x*7+y*3)%256) << 16) |'
        ' (((x*2+y*11)%256) << 8) | ((x+y*5)%256));\n'
        '  ImageWriter wr = ImageIO.getImageWritersByFormatName("jpeg")'
        '.next();\n'
        '  ImageWriteParam p = wr.getDefaultWriteParam();\n'
        '  p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);\n'
        '  p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);\n'
        '  p.setCompressionQuality(0.9f);\n'
        '  ImageOutputStream os = ImageIO.createImageOutputStream('
        'new File("prog.jpg"));\n'
        '  wr.setOutput(os);\n'
        '  wr.write(null, new IIOImage(o, null, null), p);\n'
        '  os.close();\n'
        '  BufferedImage back = ImageIO.read(new File("prog.jpg"));\n'
        '  java.io.DataOutputStream d = new java.io.DataOutputStream('
        'new java.io.FileOutputStream("prog.rgb"));\n'
        '  for (int y = 0; y < h; y++)\n'
        '    for (int x = 0; x < w; x++) {\n'
        '      int v = back.getRGB(x, y);\n'
        '      d.writeByte((v>>16)&0xFF); d.writeByte((v>>8)&0xFF);'
        ' d.writeByte(v&0xFF);\n'
        '    }\n'
        '  d.close();\n'
        '}}\n')
    subprocess.run(["javac", "ProgWrite.java"], cwd=tmp_path, check=True)
    subprocess.run(["java", "ProgWrite"], cwd=tmp_path, check=True)
    payload = (tmp_path / "prog.jpg").read_bytes()
    assert b"\xff\xc2" in payload, "ImageIO did not write SOF2"
    ours = decode_jpeg(payload)
    theirs = np.frombuffer((tmp_path / "prog.rgb").read_bytes(),
                           dtype=np.uint8).reshape(h, w, 3)
    diff = np.abs(ours.astype(int) - theirs.astype(int))
    assert diff.max() <= 4, (diff.max(), diff.mean())
    # a baseline-shaped scan inside an SOF2 frame is malformed
    import pytest as _p2
    from xponents_spark.operators.jpeg import make_jpeg
    bad = bytearray(make_jpeg(16, 16))
    bad[bad.index(b"\xff\xc0") + 1] = 0xC2
    with _p2.raises(ValueError):
        decode_jpeg(bytes(bad))


def test_standard_encrypted_ooxml():
    """Standard/CryptoAPI OOXML encryption ([MS-OFFCRYPTO] 2.3.4.5,
    round 5): binary EncryptionInfo descriptor, SHA-1 50k-spin + 0x36/
    0x5C expansion key derivation (2.3.4.7), AES-ECB package; wrong/
    missing password raise; the dispatcher recovers the inner docx and
    degrades without a password."""
    import pytest as _pytest

    from xponents_spark.textract import convert_document_kind
    from xponents_spark.textract.agile import (AgileDecryptError,
                                               decrypt_ooxml_package,
                                               make_standard_encrypted)
    from xponents_spark.textract.cfb import CfbReader
    from xponents_spark.textract.office import make_simple_docx

    for text in ("", "standard scheme", "ünïcode ✓ " * 300):
        pkg = make_simple_docx(text)
        enc = make_standard_encrypted(pkg, "std-pw")
        assert decrypt_ooxml_package(CfbReader(enc), "std-pw") == pkg
        got, kind = convert_document_kind(enc, "std-pw")
        exp, _k = convert_document_kind(pkg)
        assert got == exp and kind == "docx"
        assert convert_document_kind(enc, None) == ("", "ooxml-encrypted")
    enc = make_standard_encrypted(make_simple_docx("x"), "pw", key_bits=256)
    assert decrypt_ooxml_package(
        CfbReader(enc), "pw") == make_simple_docx("x")
    with _pytest.raises(AgileDecryptError, match="verification"):
        decrypt_ooxml_package(CfbReader(enc), "wrong")


def test_semantic_dedup_planted_groups(spark):
    """SemDeDup (arXiv:2303.09540) cluster-scoped dedup: planted near-dup
    groups each collapse to ONE survivor (the member farthest from its
    centroid, ties min id), components match an exact all-pairs union-find
    recomputed in the test, results are deterministic, and the physical
    plan has exactly ONE Exchange (the groupBy(list_id) — assignment rides
    the scan)."""
    import numpy as np

    from xponents_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    bases = rng.standard_normal((4, 64))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows, truth_vecs = [], []
    vid = 0
    for b, base in enumerate(bases):
        for g in range(3):                      # 3 dup groups per base
            anchor = base + 0.35 * rng.standard_normal(64) * (g + 1) / 3
            for c in range(g + 1):              # group sizes 1, 2, 3
                v = anchor + 0.005 * rng.standard_normal(64)
                rows.append((vid, [float(x) for x in v]))
                truth_vecs.append(v)
                vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.995, n_centroids=4).collect()
    assert len(out) == vid and len({r["vec_id"] for r in out}) == vid

    # exact recomputation: within-cluster all-pairs union-find
    mat = np.array(truth_vecs)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    cluster = {r["vec_id"]: r["list_id"] for r in out}
    parent = list(range(vid))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(vid):
        for j in range(i + 1, vid):
            if cluster[i] == cluster[j] and mat[i] @ mat[j] >= 0.995:
                parent[max(find(i), find(j))] = min(find(i), find(j))
    expect_comp = {i: find(i) for i in range(vid)}
    got_comp = {}
    for r in out:
        got_comp.setdefault(r["rep_id"], set()).add(r["vec_id"])
    exp_groups = {}
    for i, root in expect_comp.items():
        exp_groups.setdefault(root, set()).add(i)
    assert sorted(got_comp.values(), key=min) == \
        sorted(exp_groups.values(), key=min)

    # keep rule: exactly one keeper per component = lowest centroid_cos
    by_rep = {}
    for r in out:
        by_rep.setdefault(r["rep_id"], []).append(r)
    for rep, members in by_rep.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1 and keepers[0]["vec_id"] == rep
        lo = min(members, key=lambda r: (r["centroid_cos"], r["vec_id"]))
        assert lo["vec_id"] == rep
    # at least one multi-member group actually collapsed
    assert any(len(m) > 1 for m in by_rep.values())
    assert sum(1 for r in out if r["keep"]) < vid

    # determinism across runs
    out2 = semantic_dedup(df, threshold=0.995, n_centroids=4).collect()
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(out, key=key) == sorted(out2, key=key)

    # plan: exactly one Exchange
    plan = semantic_dedup(df, threshold=0.995, n_centroids=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_c4_quality_filter(spark):
    """C4 gate (Raffel et al. 2020 §2.2): line retention (terminal punct,
    >=5 words, no 'javascript'), page drops (<3 sentences, lorem ipsum,
    curly brace, badwords), verified against a pure-Python
    reimplementation of the paper's rules; plan = one Project, zero
    Exchange."""
    import re

    from xponents_spark.operators.textstats import c4_quality_filter

    good = ("This is a perfectly reasonable sentence about places.\n"
            "Another line with enough words to keep here.\n"
            "Questions also count as terminal punctuation, right?")
    docs = [
        (0, good),
        (1, "Too short.\nTiny line!\nNo.\n"),                # <5 words/line
        (2, good + "\nEnable JavaScript to view this page properly."),
        (3, good.replace("places", "lorem ipsum text")),      # page drop
        (4, good + "\nfunction f() { return 1; }"),           # curly brace
        (5, "word " * 30),                                    # no terminal punct
        (6, good + "\nthis has the frowned word in it today."),
        (7, "One good sentence with plenty of words right here.\n"
            "Second keeps as well with many words in it.\n"),  # 2 sentences
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           c4_quality_filter(df, badwords=("frowned",)).collect()}

    def py_c4(text):
        kept = [l for l in text.split("\n")
                if re.search(r'[.!?]["\'”’]?$', l.strip())
                and len(l.strip().split()) >= 5
                and "javascript" not in l.lower()]
        clean = "\n".join(kept)
        n_sent = len([s for s in re.split(r"[.!?]", clean) if s.strip()])
        reasons = []
        if n_sent < 3:
            reasons.append("too-few-sentences")
        if "lorem ipsum" in text.lower():
            reasons.append("lorem-ipsum")
        if "{" in text:
            reasons.append("curly-brace")
        if "frowned" in [w.lower() for w in text.split()]:
            reasons.append("badword")
        return clean, n_sent, "|".join(reasons)

    for doc_id, text in docs:
        clean, n_sent, reasons = py_c4(text)
        r = out[doc_id]
        assert r["text_clean"] == clean, (doc_id, r["text_clean"], clean)
        assert r["n_sentences"] == n_sent, (doc_id, r["n_sentences"], n_sent)
        assert r["reasons"] == reasons, (doc_id, r["reasons"], reasons)
        assert r["keep"] == (reasons == ""), doc_id
    # javascript is a LINE filter, not a page drop: doc 2 keeps, minus
    # that line
    assert out[0]["keep"] and out[2]["keep"]
    assert "JavaScript" not in out[2]["text_clean"]
    assert out[2]["n_lines_kept"] == out[2]["n_lines"] - 1
    assert not any(out[i]["keep"] for i in (1, 3, 4, 5, 6, 7))

    plan = c4_quality_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_ngram_repetition_full_family(spark):
    """Full Gopher Table-A1 repetition family: top-{2,3,4}-gram and
    dup-{5..10}-gram char fractions match a brute-force Python
    recomputation; the shared tagged explode produces all nine signals;
    the full gate composes base + extended reasons."""
    from collections import Counter

    from xponents_spark.operators.textstats import (
        gopher_quality_filter, gopher_quality_filter_full,
        ngram_repetition_stats)

    docs = [
        (0, "the cat sat on the mat while the cat sat on the hat"),
        (1, "alpha beta gamma delta " * 12),        # heavy 4-gram repeats
        (2, "unique words only here appear once each time now"),
        (3, ""),                                    # empty: NULL fractions
        (4, "x " * 80),                             # degenerate: clamps at 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in ngram_repetition_stats(df).collect()}

    def brute(text, n):
        w = text.split()
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        if not text:
            return None, None
        c = Counter(grams)
        # tie-break parity with the operator + oracle: most frequent,
        # ties -> LONGEST gram (any (cnt, len)-tied gram gives the same
        # cnt*len product, so the fraction is tie-rule-independent)
        top = max(((cnt, len(g)) for g, cnt in c.items()), default=(0, 0))
        top_frac = min(top[0] * top[1] / len(text), 1.0)
        dup = sum((cnt - 1) * len(g) for g, cnt in c.items() if cnt > 1)
        return top_frac, min(dup / len(text), 1.0)

    for doc_id, text in docs:
        r = out[doc_id]
        for n in (2, 3, 4):
            exp, _ = brute(text, n)
            got = r[f"top_{n}gram_char_frac"]
            assert (got is None and exp is None) or \
                abs(got - exp) < 1e-12, (doc_id, n, got, exp)
        for n in (5, 6, 7, 8, 9, 10):
            _, exp = brute(text, n)
            got = r[f"dup_{n}gram_char_frac"]
            assert (got is None and exp is None) or \
                abs(got - exp) < 1e-12, (doc_id, n, got, exp)

    # parity: top-2/dup-5 agree with the original two-signal operator on
    # non-empty docs (empty docs: the new op yields NULL; the original's
    # least() quirk yields 1.0 and its oracle pins that, so it stays)
    from xponents_spark.operators.textstats import repetition_stats
    orig = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for doc_id, text in docs:
        if not text:
            assert out[doc_id]["top_2gram_char_frac"] is None
            continue
        for a, b in (("top_2gram_char_frac",) * 2,
                     ("dup_5gram_char_frac",) * 2):
            x, y = out[doc_id][a], orig[doc_id][b]
            assert (x is None and y is None) or abs(x - y) < 1e-12

    # full gate: repeated-4-gram doc fails a check the base gate lacks
    full = {r["doc_id"]: r for r in gopher_quality_filter_full(df).collect()}
    base = {r["doc_id"]: r for r in gopher_quality_filter(df).collect()}
    assert "top-4gram" in full[1]["reasons"]
    assert "top-4gram" not in base[1]["reasons"]
    for d in full.values():          # keep iff reasons empty, base subsumed
        assert d["keep"] == (d["reasons"] == "")
        assert set(filter(None, base[d["doc_id"]]["reasons"].split("|"))) \
            <= set(filter(None, d["reasons"].split("|")))


def test_paragraph_repetition_stats(spark):
    """Paragraph duplicate signals (Gopher Table A1): blank-line-split
    non-empty paragraphs, dup fraction + dup char fraction vs a Python
    recomputation; the full gate flags dup-paras."""
    import re
    from collections import Counter

    from xponents_spark.operators.textstats import (
        gopher_quality_filter_full, paragraph_repetition_stats)

    para = "This paragraph repeats again and again in the page."
    docs = [
        (0, "first unique paragraph here.\n\nsecond distinct one there."),
        (1, "\n\n".join([para] * 4 + ["one lonely different paragraph."])),
        (2, "single block only, no blank lines at all"),
        (3, ""),
        (4, "a\n\n\n\na\n\n  \n\nb"),   # 3+ newlines, whitespace-only seg
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           paragraph_repetition_stats(df).collect()}

    for doc_id, text in docs:
        paras = [p.strip() for p in re.split(r"\n{2,}", text)]
        paras = [p for p in paras if p]
        c = Counter(paras)
        r = out[doc_id]
        assert r["n_paras"] == len(paras), (doc_id, r["n_paras"], len(paras))
        if not paras:
            assert r["dup_para_frac"] is None
        else:
            exp = sum(v - 1 for v in c.values() if v > 1) / len(paras)
            assert abs(r["dup_para_frac"] - exp) < 1e-12, (doc_id,)
        if not text:
            assert r["dup_para_char_frac"] is None
        else:
            expc = sum((v - 1) * len(p) for p, v in c.items()
                       if v > 1) / len(text)
            assert abs(r["dup_para_char_frac"] - expc) < 1e-12, (doc_id,)

    full = {r["doc_id"]: r for r in gopher_quality_filter_full(df).collect()}
    assert "dup-paras" in full[1]["reasons"]
    assert "dup-paras" not in full[0]["reasons"]


def test_c4_filter_idempotent(spark):
    """C4 line filtering is a projection: running the gate on its own
    text_clean output changes nothing (kept lines still end in terminal
    punct with >=5 words and no javascript), and a kept page stays kept
    (sentence count is computed on the cleaned text both times)."""
    import random

    from xponents_spark.operators.textstats import c4_quality_filter

    rng = random.Random(11)
    words = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "javascript", "lorem", "{brace}", "word")
    docs = []
    for i in range(60):
        lines = []
        for _ in range(rng.randint(0, 8)):
            n = rng.randint(1, 9)
            line = " ".join(rng.choice(words) for _ in range(n))
            line += rng.choice([".", "!", "?", '."', "", " ", ":"])
            lines.append(line)
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    first = c4_quality_filter(df).select("doc_id", "keep", "text_clean")
    again = c4_quality_filter(
        first.withColumnRenamed("text_clean", "text"), text_col="text")
    a = {r["doc_id"]: r for r in first.collect()}
    b = {r["doc_id"]: r for r in again.collect()}
    for i in a:
        assert b[i]["text_clean"] == a[i]["text_clean"], i
        if a[i]["keep"]:
            assert b[i]["keep"], i

def test_exif_orientation_correction():
    """EXIF tag 0x0112: the writer/reader round-trip every orientation
    1..8 (little-endian TIFF), the big-endian (MM) layout parses, the
    corrective transform is the exact inverse of the storage transform
    (apply(store(img, o), o) == img -- the PIL exif_transpose mapping),
    malformed EXIF always yields 1 without raising, and the JPEG decoder
    itself still reads a payload carrying the APP1 segment (segment skip)."""
    import struct

    import numpy as np

    from xponents_spark.operators.jpeg import (add_exif_orientation,
                                               apply_exif_orientation,
                                               decode_jpeg, exif_orientation,
                                               make_jpeg)

    base = make_jpeg(24, 16, seed=3)
    assert exif_orientation(base) == 1          # no EXIF at all

    # writer -> reader round-trip, and the decoder skips the APP1 segment
    for o in range(1, 9):
        tagged = add_exif_orientation(base, o)
        assert exif_orientation(tagged) == o
        assert decode_jpeg(tagged).shape == (16, 24, 3)

    # big-endian (MM) TIFF: hand-build the same one-entry IFD0
    tiff = (b"MM\x00*" + struct.pack(">I", 8)
            + struct.pack(">H", 1)
            + struct.pack(">HHI", 0x0112, 3, 1)
            + struct.pack(">HH", 6, 0) + struct.pack(">I", 0))
    body = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    assert exif_orientation(base[:2] + seg + base[2:]) == 6

    # corrective transform inverts the storage transform for every o
    up = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    store = {1: lambda a: a,
             2: lambda a: a[:, ::-1],
             3: lambda a: a[::-1, ::-1],
             4: lambda a: a[::-1],
             5: lambda a: a.swapaxes(0, 1),
             6: lambda a: np.rot90(a, 1),       # inverse of rot90(.,3)
             7: lambda a: a.swapaxes(0, 1)[::-1, ::-1],
             8: lambda a: np.rot90(a, 3)}
    for o, f in store.items():
        got = apply_exif_orientation(np.ascontiguousarray(f(up)), o)
        assert np.array_equal(got, up), o
        if o >= 5:                              # 90-degree family swaps axes
            assert f(up).shape == (3, 2, 3)

    # malformed EXIF: truncated TIFF, bad magic, entry count overrunning the
    # segment, out-of-range value -- all advisory-default to 1, never raise
    for bad_tiff in (b"II*\x00", b"XX*\x00" + b"\x00" * 12,
                     b"II*\x00" + struct.pack("<I", 9999),
                     b"II*\x00" + struct.pack("<I", 8)
                     + struct.pack("<H", 500) + b"\x01" * 6):
        b2 = b"Exif\x00\x00" + bad_tiff
        s2 = b"\xff\xe1" + struct.pack(">H", len(b2) + 2) + b2
        assert exif_orientation(base[:2] + s2 + base[2:]) == 1
    assert exif_orientation(add_exif_orientation(base, 9)) == 1  # range
    assert exif_orientation(b"\xff\xd8\xff\xe1\x00") == 1        # truncated
    assert exif_orientation(b"") == 1


def test_media_features_use_upright_jpeg(spark):
    """extract_media_features on an EXIF-rotated JPEG equals the features
    of the physically upright JPEG of the same scene: the feature stage
    corrects orientation before featurizing, so a phone photo stored
    rotated matches its upright twin (modulo JPEG recompression noise)."""
    import numpy as np

    from xponents_spark.operators.jpeg import (add_exif_orientation,
                                               decode_jpeg, make_jpeg)
    from xponents_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                     extract_media_features)

    base = make_jpeg(24, 16, seed=5)
    up = decode_jpeg(base)
    # store the scene rotated 90 CCW and tag it orientation 6
    rot = add_exif_orientation(
        make_jpeg(16, 24, pixels=np.ascontiguousarray(np.rot90(up, 1))), 6)

    rows = [(0, base, {"mime": "image/jpeg", "width": 24, "height": 16,
                       "duration_ms": None}),
            (1, rot, {"mime": "image/jpeg", "width": 16, "height": 24,
                      "duration_ms": None})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: np.array(r["features"])
           for r in extract_media_features(df, decoder="real").collect()}
    assert out[0].shape == out[1].shape and out[0].size > 0
    assert float(np.abs(out[0] - out[1]).max()) < 0.12  # recompression only

def test_corpus_split_and_mixture(spark):
    """hash_split/mixture_sample: deterministic in (key, salt) across
    partitionings, salt re-deals, proportions converge, epoch upsampling
    emits floor(r)..floor(r)+1 copies, and the whole pipeline plans with
    ZERO Exchange (narrow projections only)."""
    from pyspark.sql import functions as F

    from xponents_spark.operators.corpus import hash_split, mixture_sample

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df.repartition(7)).collect()}
    assert a == b                                   # partitioning-invariant
    c = {r["doc_id"]: r["split"]
         for r in hash_split(df, salt="v2").collect()}
    assert a != c                                   # salt re-deals
    from collections import Counter
    frac = Counter(a.values())
    assert 0.96 < frac["train"] / 5000 < 1.0 and frac["val"] > 0

    src = df.withColumn("source", F.when(df.doc_id % 2 == 0, "wiki")
                        .otherwise("web"))
    out = mixture_sample(src, {"wiki": 2.25, "web": 0.5}).collect()
    per_doc = Counter(r["doc_id"] for r in out)
    wiki_counts = {per_doc[i] for i in range(0, 5000, 2)}
    assert wiki_counts == {2, 3}                    # 2 full + frac epoch
    n_web = sum(1 for r in out if r["source"] == "web")
    assert 1000 < n_web < 1500                      # ~0.5 * 2500
    assert all(1 <= r["epoch"] <= 3 for r in out)
    # third epoch fraction ~0.25 of wiki docs
    n3 = sum(1 for d, n in per_doc.items() if d % 2 == 0 and n == 3)
    assert 450 < n3 < 800

    plan = mixture_sample(hash_split(src), {"wiki": 2.25, "web": 0.5}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # leakage check: split recomputed inline per pair endpoint (zero
    # join); same-split pairs pass, cross-split pairs surface
    from xponents_spark.operators.corpus import split_leakage_check
    by_split = {}
    for d, s in a.items():
        by_split.setdefault(s, []).append(d)
    same = (by_split["train"][0], by_split["train"][1])
    cross = (by_split["train"][2], by_split["val"][0])
    pairs = spark.createDataFrame([same, cross], ["doc_a", "doc_b"])
    leaks = split_leakage_check(pairs).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in leaks] == [cross]
    assert (leaks[0]["split_a"], leaks[0]["split_b"]) == ("train", "val")
    lplan = split_leakage_check(pairs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lplan and "Exchange" not in lplan


def test_range_join_semantics(spark):
    """range_join: inclusive start / exclusive end, multi-interval
    overlap, optional equi-key, bucket-boundary intervals, and the plan
    is a hash equi-join (no BroadcastNestedLoopJoin)."""
    import datetime as dt

    from xponents_spark.operators.joins import range_join

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    pts = spark.createDataFrame(
        [(1, t(0)), (2, t(3600)), (3, t(5400)), (4, t(7200))],
        ["pid", "ts"])
    # w1 [0, 3600) — ends ON a bucket boundary; w2 [3000, 7200) overlaps
    # two buckets; both cover 5400
    wins = spark.createDataFrame(
        [(10, t(0), t(3600)), (20, t(3000), t(7200))],
        ["w_id", "start", "end"])
    got = sorted((r["pid"], r["w_id"]) for r in
                 range_join(pts, wins, bucket_seconds=3600).collect())
    assert got == [(1, 10), (2, 20), (3, 20)]   # 3600 not in w1 (exclusive)

    # equi-key variant: same windows per key, points match only their key
    pts_k = spark.createDataFrame([("a", 1, t(100)), ("b", 2, t(100))],
                                  ["k", "pid", "ts"])
    wins_k = spark.createDataFrame([("a", 10, t(0), t(3600))],
                                   ["k", "w_id", "start", "end"])
    got_k = [(r["pid"], r["w_id"]) for r in
             range_join(pts_k, wins_k, on="k").collect()]
    assert got_k == [(1, 10)]

    plan = range_join(pts, wins)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_range_join_hostile_intervals(spark):
    """Hostile-input guards (ADVICE r5 / VERDICT r5 item 4): a degenerate
    interval (end <= start, e.g. an epoch-0 sentinel) is dropped before
    the explode instead of generating a DESCENDING bucket sequence; an
    interval spanning more buckets than max_buckets_per_interval trips
    the zero-cost runtime assert_true with the coarsen-or-asof advice
    (a task failure naming the cap, not a silent memory/time sink)."""
    import datetime as dt

    import pytest

    from xponents_spark.operators.joins import range_join

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    pts = spark.createDataFrame([(1, t(100))], ["pid", "ts"])
    # end == epoch 0 sentinel: start > end by ~54 years of buckets
    wins = spark.createDataFrame(
        [(10, t(0), t(3600)), (66, t(0), dt.datetime(1970, 1, 1))],
        ["w_id", "start", "end"])
    got = [(r["pid"], r["w_id"]) for r in
           range_join(pts, wins, bucket_seconds=3600).collect()]
    assert got == [(1, 10)]          # sentinel row dropped, no explosion

    # explode-factor tripwire: one 10-day interval at 1-second buckets
    wide = spark.createDataFrame([(7, t(0), t(864000))],
                                 ["w_id", "start", "end"])
    with pytest.raises(Exception, match="coarsen bucket_seconds"):
        range_join(pts, wide, bucket_seconds=1,
                   max_buckets_per_interval=100_000).collect()
    # guarded healthy plan runs exactly like the unguarded one
    assert range_join(pts, wins, bucket_seconds=3600,
                      max_buckets_per_interval=None).count() == 1
    # ...and the opt-out lets a deliberate wide explode through
    range_join(pts, wide, bucket_seconds=86400,
               max_buckets_per_interval=None).explain()


def test_decontaminate_broadcast_toggle(spark):
    """decontaminate(broadcast_benchmark=...) is public API (VERDICT r5
    item 3): True plans a broadcast-hinted join; False plans a shuffle
    join (no broadcast hint in the optimized plan) with identical
    results."""
    from xponents_spark.operators.dedup import decontaminate

    passage = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, "intro " + passage + " outro"),
         (1, " ".join(f"u{i}" for i in range(30)))],
        "doc_id long, text string")
    bench = spark.createDataFrame([(9, passage)],
                                  "bench_id long, text string")
    bcast = decontaminate(docs, bench, n=13)
    shuffle = decontaminate(docs, bench, n=13, broadcast_benchmark=False)
    assert sorted(map(tuple, bcast.collect())) == \
        sorted(map(tuple, shuffle.collect()))
    opt = lambda df: df._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in opt(bcast)
    assert "broadcast" not in opt(shuffle)


def test_asof_join_semantics(spark):
    """asof_join: backward inclusive match, null before the first right
    row, tolerance voids stale matches, name-clash raises, and the plan
    is ONE shuffle + window (no join operator, no Python)."""
    import datetime as dt

    import pytest as _pytest

    from xponents_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [("u1", t(5)), ("u1", t(10)), ("u1", t(50)), ("u2", t(7))],
        ["uid", "ts"])
    right = spark.createDataFrame(
        [("u1", t(10), 100), ("u1", t(20), 200), ("u3", t(0), 999)],
        ["uid", "ts", "v"])
    got = {(r["uid"], r["ts"].second): (r["v"], r["matched_ts"])
           for r in asof_join(left, right, on="uid").collect()}
    assert got[("u1", 5)] == (None, None)        # before first right row
    assert got[("u1", 10)][0] == 100             # inclusive tie
    assert got[("u1", 50)][0] == 200             # latest prior
    assert got[("u2", 7)] == (None, None)        # key with no right rows

    tol = {(r["uid"], r["ts"].second): r["v"]
           for r in asof_join(left, right, on="uid",
                              tolerance_seconds=15).collect()}
    assert tol[("u1", 50)] is None               # 30s-old match voided
    assert tol[("u1", 10)] == 100

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("v", F.lit(1)), right, on="uid")

    plan = asof_join(left, right, on="uid") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_sessionize_semantics(spark):
    """sessionize: new session at every >gap inactivity, 1-based per-key
    numbering, tie-broken total order, session_stats rollup, and a
    single-Exchange window plan."""
    import datetime as dt

    from xponents_spark.operators.sessions import session_stats, sessionize

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, t0),
        ("c1", 1, t0 + dt.timedelta(seconds=100)),      # same session
        ("c1", 2, t0 + dt.timedelta(seconds=2000)),     # gap > 1800 -> new
        ("c1", 3, t0 + dt.timedelta(seconds=2100)),
        ("c2", 0, t0),                                   # other key
        # equal timestamps: tiebreak on turn_idx keeps order total
        ("c2", 1, t0 + dt.timedelta(seconds=5000)),
        ("c2", 2, t0 + dt.timedelta(seconds=5000)),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
    out = sessionize(df, gap_seconds=1800)
    got = {(r["conv_id"], r["turn_idx"]): (r["session_seq"], r["session_id"])
           for r in out.collect()}
    assert got[("c1", 0)] == (1, "c1#1") and got[("c1", 1)] == (1, "c1#1")
    assert got[("c1", 2)] == (2, "c1#2") and got[("c1", 3)] == (2, "c1#2")
    assert got[("c2", 0)] == (1, "c2#1")
    assert got[("c2", 1)] == (2, "c2#2") and got[("c2", 2)] == (2, "c2#2")

    stats = {r["session_id"]: (r["n_turns"], r["span_sec"])
             for r in session_stats(out).collect()}
    assert stats["c1#1"] == (2, 100) and stats["c1#2"] == (2, 100)
    assert stats["c2#2"] == (2, 0)

    plan = sessionize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1          # the window's key shuffle
    # streaming twin: session_window spans agree with the batch labels
    # (same session count and sizes per key; spans end at last+gap)
    from xponents_spark.streaming import session_spans
    spans = session_spans(df, gap_seconds=1800).collect()
    assert (sorted((r["conv_id"], r["n_turns"])
                   for r in session_stats(out).collect())
            == sorted((r["conv_id"], r["n_turns"]) for r in spans))
    s_c1 = [r for r in spans if r["conv_id"] == "c1"]
    assert all((r["session_end"] - r["session_start"]).total_seconds()
               >= 1800 for r in s_c1)

    # over conv_id-partitioned input (the bucketed Iceberg layout) the
    # window adds ZERO Exchange — it reuses the child partitioning
    pre = df.repartition("conv_id")
    base = pre._jdf.queryExecution().executedPlan().toString() \
        .count("Exchange")
    withw = sessionize(pre)._jdf.queryExecution().executedPlan() \
        .toString().count("Exchange")
    assert withw - base == 0

    # TIMESTAMP_NTZ input (what a parquet file written without a session
    # tz carries — e.g. testdata events.parquet): Spark 4 forbids the
    # direct NTZ->long cast, so sessionize must route through the pinned
    # UTC session tz and produce the SAME labels as the tz-aware run
    ntz = df.withColumn("ts", df.ts.cast("timestamp_ntz"))
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
    got_ntz = {(r["conv_id"], r["turn_idx"]): r["session_id"]
               for r in sessionize(ntz, gap_seconds=1800).collect()}
    assert got_ntz == {k: v[1] for k, v in got.items()}
    stats_ntz = {r["session_id"]: (r["n_turns"], r["span_sec"])
                 for r in session_stats(
                     sessionize(ntz, gap_seconds=1800),
                     ).collect()}
    assert stats_ntz["c1#1"] == (2, 100)


def test_container_explode_stage(spark):
    """extract_container_entries: one archive/mail row explodes to one
    text-recovered row per contained document, carried columns intact,
    corrupt payloads degrade to an error row (stage stays total)."""
    from pyspark.sql import types as T

    from xponents_spark.textract.containers import (
        extract_container_entries, make_simple_eml, make_simple_zip)
    from xponents_spark.textract.office import make_simple_docx

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    z = make_simple_zip([("a.txt", b"zip text"),
                         ("n/d.docx", make_simple_docx("nested docx"))])
    e = make_simple_eml("s", "mail body")
    df = spark.createDataFrame(
        [(1, bytearray(z)), (2, bytearray(e)),
         (3, bytearray(b"PK\x03\x04garbage" * 5))], schema)
    rows = {(r["doc_id"], r["entry_path"]): r
            for r in extract_container_entries(df, "payload").collect()}
    assert rows[(1, "a.txt")]["text"] == "zip text"
    assert rows[(1, "a.txt")]["entry_kind"] == "text"
    assert rows[(1, "n/d.docx")]["text"] == "nested docx"
    assert rows[(1, "n/d.docx")]["entry_kind"] == "docx"
    assert rows[(2, "body-1")]["text"] == "mail body"
    assert rows[(2, "headers")]["text"].startswith("Subject: s")
    assert rows[(3, "payload")]["entry_status"] == "error"


def test_decontaminate_planted(spark):
    """13-gram decontamination flags exactly the docs sharing a 13-gram
    with the benchmark: a doc embedding a benchmark passage verbatim, and
    the benchmark's own source; an unrelated doc and a 12-gram-only
    overlap stay clean."""
    from xponents_spark.operators.dedup import decontaminate

    passage = " ".join(f"w{i}" for i in range(20))        # 20 tokens
    docs = spark.createDataFrame(
        [(0, "intro text " + passage + " outro text"),    # verbatim hit
         (1, " ".join(f"u{i}" for i in range(30))),       # clean
         # only the first 12 tokens of the passage: NO shared 13-gram
         (2, "x " + " ".join(f"w{i}" for i in range(12)) + " y z q r s t u v"),
         (3, "benchmark src " + passage)],                # source doc
        "doc_id long, text string")
    bench = spark.createDataFrame([(100, passage)], "bench_id long, text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, bench, n=13).collect()}
    assert set(got) == {0, 3}
    # the 20-token passage has 8 distinct 13-grams, all hit
    assert got[0]["n_hit_grams"] == 8 and got[0]["n_benchmarks"] == 1
    assert 0 < got[0]["hit_frac"] <= 1.0

    # short-doc convention: a benchmark shorter than n contributes one
    # whole-text shingle, which matches only a doc with the same
    # whole-text-or-window... (it can never equal a 13-gram of a longer
    # doc, so short benchmarks only hit docs that are themselves short
    # and identical)
    sdocs = spark.createDataFrame(
        [(0, "tiny doc"), (1, "tiny doc two")], "doc_id long, text string")
    sbench = spark.createDataFrame([(9, "tiny doc")], "bench_id long, text string")
    sgot = [r["doc_id"] for r in decontaminate(sdocs, sbench, n=13).collect()]
    assert sgot == [0]


def test_redact_pii_classes(spark):
    """Every PII class redacts with its placeholder and counts; clean text
    passes through byte-identical with zero counts."""
    from xponents_spark.operators.redact import redact_pii

    rows = [
        (0, "mail a.smith+x@sub.example.co.uk now"),
        (1, "host 10.0.0.5 and 192.168.001.100 up"),
        (2, "ssn 123-45-6789 leaked"),
        (3, "card 4111 1111 1111 1111 charged"),
        (4, "call +1 (800) 555-0199 or 212-555-0123 today"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[0]["text_redacted"] == "mail [EMAIL] now"
    assert got[0]["n_email"] == 1
    assert got[1]["text_redacted"] == "host [IP] and [IP] up"
    assert got[1]["n_ipv4"] == 2
    assert got[2]["text_redacted"] == "ssn [SSN] leaked"
    assert got[2]["n_ssn"] == 1
    assert got[3]["text_redacted"] == "card [CARD] charged"
    assert got[3]["n_card"] == 1
    assert got[4]["text_redacted"] == "call [PHONE] or [PHONE] today"
    assert got[4]["n_phone"] == 2
    assert got[5]["text_redacted"] == rows[5][1]
    assert all(got[5][f"n_{c}"] == 0
               for c in ("email", "ipv4", "ssn", "card", "phone"))


def test_planted_gate_oracles_deterministic(spark, sf_dir):
    """The round-6 full-oracle upgrades (VERDICT r5 item 1): the planted
    twin pairs are the EXACT near_dups_all output in every scheme (twin
    recall is guaranteed by identical text; md5-hex vocab keeps the
    planted region free of cross/natural pairs even at char-5-gram
    winnowing), and the planted exact-copy vectors are the EXACT
    ann_approx_topk top-5 for both schemes, in vec_id order."""
    import __spark_entry__ as e

    nd = e.queries()["near_dups_all"](spark, sf_dir).collect()
    off = e._ND_PLANT_OFFSET
    expected = {(off + 2 * i, off + 2 * i + 1, s,
                 0.0 if s == "simhash" else 1.0)
                for i in range(e._ND_PLANT_PAIRS)
                for s in ("minhash", "simhash", "winnow")}
    assert {(r["doc_a"], r["doc_b"], r["scheme"], r["score"])
            for r in nd} == expected

    ann = e.queries()["ann_approx_topk"](spark, sf_dir).collect()
    aoff = e._ANN_PLANT_OFFSET
    expected = {(q, aoff + q * 10 + j, j + 1, s)
                for q in range(10) for j in range(e._ANN_PLANT_K)
                for s in ("lsh", "ivf")}
    assert {(r["query_id"], r["vec_id"], r["rank"], r["scheme"])
            for r in ann} == expected


def test_semantic_dedup_giant_cluster_guard(spark):
    """Giant-cluster guard (VERDICT r5 item 2): a hot cluster bigger than
    max_cluster is recursively sub-clustered with the same quantizer, so
    per-task quadratic work is bounded (every final list_size <=
    max_cluster on splittable data); planted exact twins still share a
    component with exactly one keeper (identical vectors co-assign at
    every split level); the no-progress path freezes instead of looping."""
    import numpy as np

    from xponents_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    # 400 diffuse vectors -> forced into ONE level-0 cluster
    # (n_centroids=1), 8x over max_cluster=50: must split recursively
    mat = rng.standard_normal((400, 16))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(400)]
    # planted exact twins of vec 0..9 (ids 1000+)
    rows += [(1000 + i, [float(x) for x in mat[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.999, n_centroids=1,
                         max_cluster=50, max_split_levels=4).collect()
    assert len(out) == 410
    sizes = {r["list_id"]: r["list_size"] for r in out}
    assert len(sizes) > 1                      # the hot cluster DID split
    assert max(sizes.values()) <= 50, sizes    # bounded per-task work
    by_id = {r["vec_id"]: r for r in out}
    for i in range(10):                        # twin invariants survive
        a, b = by_id[i], by_id[1000 + i]
        assert a["list_id"] == b["list_id"]
        assert a["rep_id"] == b["rep_id"]
        assert a["keep"] != b["keep"] or a["rep_id"] not in (i, 1000 + i)
    # exactly one keeper per component
    comp = {}
    for r in out:
        comp.setdefault(r["rep_id"], []).append(r)
    for rep, members in comp.items():
        assert sum(1 for r in members if r["keep"]) == 1

    # determinism of the split loop
    out2 = semantic_dedup(df, threshold=0.999, n_centroids=1,
                          max_cluster=50, max_split_levels=4).collect()
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(out, key=key) == sorted(out2, key=key)

    # no-progress freeze: 120 IDENTICAL vectors cannot be separated by
    # k-means — the guard freezes the cluster (one quadratic task, still
    # correct: one component, one keeper) rather than looping
    same = [(i, [1.0] * 16) for i in range(120)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<double>")
    out3 = semantic_dedup(df2, threshold=0.9, n_centroids=1,
                          max_cluster=50, max_split_levels=3).collect()
    assert len(out3) == 120
    assert {r["rep_id"] for r in out3} == {out3[0]["rep_id"]}
    assert sum(1 for r in out3 if r["keep"]) == 1


def test_session_scheduling_defaults(spark):
    """Engine session defaults that exist for documented scale reasons —
    pin them so a refactor cannot silently revert the measured wins.

    locality.wait=0s: delay scheduling idled free multi-executor cores up
    to 3 s per task wave waiting for cache-preferred executors (round-6
    diagnosis, BENCH/scaling_r06_run1.json -> scaling_r06.json: raw
    N->4N median 0.744 -> 0.930).  SPARK_GRAFT_LOCALITY_WAIT overrides
    for HDFS-colocated clusters.
    """
    assert spark.conf.get("spark.locality.wait") == "0s"
    # v2 committer: O(1) job commit (serial rename pass is Amdahl cost)
    assert spark.conf.get(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version") == "2"
    # the documented override knob exists (no second JVM session needed
    # to assert the plumbing)
    import inspect

    from xponents_spark.session import get_spark as gs
    assert "SPARK_GRAFT_LOCALITY_WAIT" in inspect.getsource(gs)
    # r7: InferFiltersFromGenerate re-runs every explode's array-building
    # expression as a pushed-down filter (measured 2x map CPU on
    # decontaminate); excluded as an engine default
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules")


def _duckdb_documents(docs):
    """A DuckDB connection whose ``documents`` table (the view every
    oracle reads) holds ``docs``."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    return con


def test_ngram_and_span_operators_equal_oracles(spark):
    """On a seeded randomized corpus (repeats, ties, empties, unicode,
    huge runs): ngram_jaccard_pairs and remove_duplicated_spans equal
    their DuckDB oracles, and ngram_repetition_stats a brute-force
    recomputation.  The corpus holds 8 empty docs: none of them may pair
    (each once emitted the shingle '', so every two paired at 1.0)."""
    import random
    import re
    from collections import Counter

    from xponents_spark.operators.dedup import (ngram_jaccard_pairs,
                                                remove_duplicated_spans)
    from xponents_spark.operators.textstats import ngram_repetition_stats
    from xponents_spark.oracle import NGRAM_JACCARD_ORACLE, remove_spans_oracle

    rng = random.Random(0xC0FFEE)
    vocab = ["the", "cat", "sat", "mat", "δ", "東京", "a", "b", "--", "x1"]
    docs = []
    for i in range(40):
        n = rng.choice([0, 1, 3, 8, 30, 120])
        words = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.3 and n >= 10:      # force heavy repetition
            words = words[:5] * (n // 5)
        docs.append((i, " ".join(words)))
    docs += [(100, ""), (101, "x " * 200), (102, "solo")]
    empty = {d for d, t in docs if not t.strip()}
    assert len(empty) == 8
    df = spark.createDataFrame(docs, "doc_id long, text string")
    con = _duckdb_documents(docs)

    pairs = sorted((r["doc_a"], r["doc_b"], r["n_inter"], round(r["jaccard"], 12))
                   for r in ngram_jaccard_pairs(df).collect())
    want = sorted((a, b, n, round(j, 12))
                  for a, b, n, j in con.sql(NGRAM_JACCARD_ORACLE).fetchall())
    assert pairs == want and len(pairs) == 8   # non-vacuous
    assert not any(a in empty or b in empty for a, b, _n, _j in pairs)

    removed = sorted(map(tuple, remove_duplicated_spans(df, k=4).collect()))
    assert removed == sorted(con.sql(remove_spans_oracle(4)).fetchall())
    assert any(r[3] > 0 for r in removed)  # non-vacuous: something was cut

    def brute(text, n):
        """(top, dup) n-gram char fractions; NULL on an empty doc."""
        if not text:
            return None, None
        w = re.split("[ \t\n\x0b\f\r]+", text.strip(" "))
        c = Counter(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))
        top = max(((cnt, len(g)) for g, cnt in c.items()), default=(0, 0))
        dup = sum((cnt - 1) * len(g) for g, cnt in c.items() if cnt > 1)
        return (min(top[0] * top[1] / len(text), 1.0),
                min(dup / len(text), 1.0))

    out = {r["doc_id"]: r for r in ngram_repetition_stats(df).collect()}
    for doc_id, text in docs:
        want = [(f"top_{n}gram_char_frac", brute(text, n)[0])
                for n in (2, 3, 4)]
        want += [(f"dup_{n}gram_char_frac", brute(text, n)[1])
                 for n in (5, 6, 7, 8, 9, 10)]
        for col, exp in want:
            got = out[doc_id][col]
            assert (got is None and exp is None) or \
                abs(got - exp) < 1e-12, (doc_id, col, got, exp)


def _gopher_corpus():
    """Seeded docs with repeated lines, blank-line paragraphs, heavy n-gram
    repetition, empties, unicode, tab/space-edge and NULL-text docs — the
    structures every Table-A1 signal keys on."""
    import random
    rng = random.Random(0xBEEF7)
    vocab = ["the", "cat", "sat", "mat", "δ", "東京", "a", "b", "--", "x1"]

    def line(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    docs = []
    for i in range(40):
        n_lines = rng.choice([1, 2, 5, 12])
        lines = [line(rng.choice([0, 1, 4, 9, 25])) for _ in range(n_lines)]
        if rng.random() < 0.4 and n_lines >= 3:        # repeated lines
            lines = lines[:2] * (n_lines // 2)
        sep = "\n\n" if rng.random() < 0.4 else "\n"   # paragraphs too
        text = sep.join(lines)
        if rng.random() < 0.3:                         # heavy gram repeats
            text = text + "\n" + " ".join(["spam ham"] * 40)
        docs.append((i, text))
    return docs + [
        (100, ""), (101, "x " * 200), (102, "solo"),
        (103, "p1\n\np1\n\np2"), (104, "\n\n\n"),
        (105, "a b c d e f g h i j " * 30),
        (200, None), (201, "\tx y z"), (202, " spaced  out "),
        (203, "\n\np\n\np\n\n"), (300, None), (301, "\tx y z"),
        (302, "l\nl\nl2")]


def _assert_gopher_outputs_equal_oracles(spark, docs):
    """repetition_stats, both base gates and the full gate equal their
    DuckDB oracles on ``docs``; NULL-text docs, which the oracles do not
    model, have literal rows."""
    from xponents_spark.operators.textstats import (
        _repetition_stats_relational, gopher_quality_filter,
        gopher_quality_filter_full, gopher_quality_filter_single_pass,
        repetition_stats)
    from xponents_spark.oracle import (REPETITION_ORACLE,
                                       gopher_filter_full_oracle,
                                       gopher_filter_oracle)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    con = _duckdb_documents([d for d in docs if d[1] is not None])
    nulls = {d for d, t in docs if t is None}

    def rows(frame):
        got = sorted(map(tuple, frame.collect()))
        return ([r for r in got if r[0] not in nulls],
                [r[1:] for r in got if r[0] in nulls])

    rep, rep_null = rows(repetition_stats(df))
    assert rep == sorted(con.sql(REPETITION_ORACLE).fetchall())
    assert rep_null == [(0, None, None, 1.0, 1.0)] * len(nulls)
    assert rows(_repetition_stats_relational(df)) == (rep, rep_null)
    for gate, sql in ((gopher_quality_filter_single_pass,
                       gopher_filter_oracle()),
                      (gopher_quality_filter, gopher_filter_oracle()),
                      (gopher_quality_filter_full,
                       gopher_filter_full_oracle())):
        got, got_null = rows(gate(df))
        assert got == sorted(con.sql(sql).fetchall()), gate.__name__
        assert got_null == [(False, "top-2gram|dup-5grams")] * len(nulls)
    return got


def test_gopher_outputs_equal_oracles(spark):
    """The single-pass Gopher outputs, all read from one signal kernel,
    equal their independent DuckDB oracles row for row on a seeded corpus
    (51 docs plus 2 NULL-text docs)."""
    full = _assert_gopher_outputs_equal_oracles(spark, _gopher_corpus())
    # non-vacuous: the corpus must trip Table-A1-specific reasons
    joined = "|".join(r[2] for r in full)
    assert "dup-para" in joined and "top-3gram" in joined


def test_gopher_outputs_on_one_huge_document(spark):
    """One document of 200k tokens (~1.4 MB) — the case a relational
    fallback used to be kept for — goes through the signal kernel in one
    row.  The DuckDB oracles are quadratic in a document's length, so the
    reference here is the relational Spark operators: repetition_stats
    equals _repetition_stats_relational, and the full gate equals the
    base relational gate plus the Table-A1 checks applied to
    ngram_repetition_stats and paragraph_repetition_stats."""
    import random

    from xponents_spark.operators.textstats import (
        GOPHER_THRESHOLDS_FULL, _repetition_stats_relational,
        gopher_quality_filter, gopher_quality_filter_full,
        ngram_repetition_stats, paragraph_repetition_stats,
        repetition_stats)

    rng = random.Random(0x5EED)
    vocab = [f"w{i}" for i in range(2000)]
    lines, seen = [], []
    for i in range(20_000):                            # 10 tokens a line
        if i % 7 == 6:                                 # a repeated line
            lines.append(seen[rng.randrange(len(seen))])
        else:
            seen.append(" ".join(rng.choice(vocab) for _ in range(10)))
            lines.append(seen[-1])
        if i % 50 == 49:
            lines.append("")                           # paragraph break
    huge = "\n".join(lines)
    assert len(huge.split()) == 200_000
    df = spark.createDataFrame([(1, huge), (2, "the cat sat on the mat")],
                               "doc_id long, text string")

    def by_id(frame):
        return {r["doc_id"]: r.asDict() for r in frame.collect()}

    rep = by_id(_repetition_stats_relational(df))
    assert by_id(repetition_stats(df)) == rep

    t = GOPHER_THRESHOLDS_FULL
    base = by_id(gopher_quality_filter(df, thresholds=t))
    ng = by_id(ngram_repetition_stats(df, top_ns=(3, 4),
                                      dup_ns=(6, 7, 8, 9, 10)))
    ps = by_id(paragraph_repetition_stats(df))
    want = {}
    for d in base:
        sig = {**rep[d], **ng[d], **ps[d]}
        checks = [("dup_line_char_frac", "max_dup_line_char_frac",
                   "dup-line-chars"),
                  ("dup_para_frac", "max_dup_para_frac", "dup-paras"),
                  ("dup_para_char_frac", "max_dup_para_char_frac",
                   "dup-para-chars")]
        checks += [(f"top_{n}gram_char_frac", f"max_top{n}gram_char_frac",
                    f"top-{n}gram") for n in (3, 4)]
        checks += [(f"dup_{n}gram_char_frac", f"max_dup{n}gram_char_frac",
                    f"dup-{n}grams") for n in (6, 7, 8, 9, 10)]
        reasons = [base[d]["reasons"]] if base[d]["reasons"] else []
        reasons += [name for col, key, name in checks
                    if sig[col] is not None and sig[col] > t[key]]
        want[d] = "|".join(reasons)
    got = {d: r["reasons"] for d, r in by_id(gopher_quality_filter_full(df)).items()}
    assert got == want
    # non-vacuous: base and Table-A1 checks both fire on the huge doc
    assert "too-many-words" in got[1] and "dup-10grams" in got[1]


def test_gopher_full_single_pass_plan_has_no_exchange(spark):
    """r7 plan pin: the default full Gopher gate is ONE narrow map stage —
    no Exchange, no Python, no join (guide §2.4)."""
    from xponents_spark.operators.textstats import gopher_quality_filter_full
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = gopher_quality_filter_full(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
