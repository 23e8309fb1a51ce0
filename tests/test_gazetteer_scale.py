"""Scale-path reference tables: synth generator -> ETL -> parquet ->
compiled mmap artifact -> executor-side index, with parity against
reference implementations over identical rows (the phrase oracle, an
exhaustive haversine scan, a plain code dict), and the embedded rows
compiled in memory byte-equal to the same rows through the file route
(VERDICT r1 item 3)."""

import contextlib

import numpy as np
import pytest
from phrase_oracle import PhraseIndex, _cap_places

from xponents_spark.functions.geo import haversine_m
from xponents_spark.gazetteer import matcher, tables
from xponents_spark.gazetteer.matcher import Place
from xponents_spark.gazetteer.mmapstore import (MmapGazetteerIndex,
                                                MmapSpatialIndex,
                                                build_mmap_artifact,
                                                build_taxcat_mmap)
from xponents_spark.sources.gazetteer_etl import (build_tagger_parquet,
                                                  gazetteer_etl)
from xponents_spark.sources.gazetteer_synth import synthesize_gazetteer_raw

_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
         "cc", "adm1", "lat", "lon", "id_bias", "pop"]


@pytest.fixture(scope="module")
def tagger_pq(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gaz") / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=20_000, partitions=8)
    build_tagger_parquet(gazetteer_etl(raw), out)
    return out


@pytest.fixture(scope="module")
def mmap_dir(tagger_pq, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gazmm") / "tagger.mmap")
    meta = build_mmap_artifact(tagger_pq, out)
    assert meta["n_phrases"] > 0 and meta["n_rows"] >= meta["n_phrases"]
    return out


def _phrase_index(rows) -> PhraseIndex:
    """The in-memory reference index over tagger parquet rows."""
    return PhraseIndex([(r["name"], Place(*[r[c] for c in _COLS]))
                        for r in rows])


@contextlib.contextmanager
def _serving(**paths):
    """This process's table slot entered with ``paths`` (``tables.Tables``
    fields), as a worker enters it for a job; embedded again afterwards."""
    tables.enter(tables.Tables(**paths))
    try:
        yield
    finally:
        tables.enter(tables.Tables())


def _taxcat_mmap(rows, out_dir) -> str:
    """Taxcat rows -> parquet -> compiled artifact; returns its path."""
    from xponents_spark.sources.taxcat_etl import build_taxcat_parquet
    pq_dir = str(out_dir / "taxcat.parquet")
    build_taxcat_parquet(rows, pq_dir)
    mm_dir = str(out_dir / "taxcat.mmap")
    meta = build_taxcat_mmap(pq_dir, mm_dir)
    assert meta["n_rows"] > 0
    return mm_dir


def test_synth_is_deterministic_and_collides(spark):
    a = synthesize_gazetteer_raw(spark, 5_000, partitions=4).collect()
    b = synthesize_gazetteer_raw(spark, 5_000, partitions=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    names = [r["name"] for r in a]
    top = max(names, key=names.count)
    # Zipf pool: the hottest name recurs across many places/countries
    assert names.count(top) > 20
    ccs = {r["cc"] for r in a if r["name"] == top}
    assert len(ccs) > 5


def test_parquet_index_matches_phrase_index(spark, tagger_pq, mmap_dir):
    """Same rows -> the index the job's tables open over the compiled
    artifact scans like the phrase oracle (spans and place_id sets) on
    texts containing known names."""
    rows = spark.read.parquet(tagger_pq).collect()
    mem = _phrase_index(rows)
    with _serving(gazetteer=mmap_dir):
        idx = matcher.gaz_index()
        for name in [r["name"] for r in rows[:50]]:
            text = f"we visited {name} on the way home"
            a = [(s, e, m, sorted(p.place_id for p in pl))
                 for s, e, m, pl in mem.scan(text)]
            b = [(s, e, m, sorted(p.place_id for p in pl))
                 for s, e, m, pl in idx.scan(text)]
            assert a == b, name


def test_extract_with_parquet_gazetteer(spark, tagger_pq):
    """A plain tagger parquet is not a runtime artifact: the Spark job
    fails with the compile step to run instead of tagging from it."""
    import datetime

    from pyspark.sql import Row

    from xponents_spark.pipeline import extract
    from xponents_spark.schemas import TRANSCRIPT_SCHEMA

    rows = [Row(conv_id="c0", turn_idx=i, role="user",
                text="meeting in London tomorrow", tool=None,
                ts=datetime.datetime(2025, 1, 1)) for i in range(2)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = extract(df, features=("places", "countries"),
                  gazetteer_parquet=tagger_pq)
    with pytest.raises(Exception, match="build_mmap_artifact"):
        out.collect()


@pytest.mark.parametrize("table", ["gazetteer", "taxcat", "postal"])
def test_plain_parquet_refused_at_open(table, tagger_pq, tmp_path):
    """Entering tables accepts any path, and opening a directory that is
    not the table's compiled artifact raises a ValueError naming the
    compile function."""
    opener, build = {
        "gazetteer": (tables.gaz_index, "build_mmap_artifact"),
        "taxcat": (tables.tax_index, "build_taxcat_mmap"),
        "postal": (tables.postal_codes, "build_postal_mmap"),
    }[table]
    for path in (tagger_pq, str(tmp_path / "missing")):
        with _serving(**{table: path}):
            with pytest.raises(ValueError, match=build):
                opener()
    opener()      # the embedded table opens again after the reset


def test_tag_limit_degrades_through_mmap(spark, tagger_pq, mmap_dir,
                                        monkeypatch):
    """The one matcher.TAG_LIMIT guards the mmap index too: a turn over
    the limit degrades to the filtered ``tag_limit_exceeded`` sentinel
    and keeps its regex-family matches (the limit is patched low so the
    turn stays small)."""
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn

    names = [r["name"] for r in spark.read.parquet(tagger_pq)
             .filter("name_type = 'N'").limit(10).collect()]
    text = "at 42.3N; 102.4W we passed " + ", ".join(names)
    monkeypatch.setattr(matcher, "TAG_LIMIT", 3)
    with _serving(gazetteer=mmap_dir):
        _main, ms = extract_turn(text, DEFAULT_FEATURES)
    sentinel = [m for m in ms if m["label"] == "tag_limit_exceeded"]
    assert len(sentinel) == 1 and sentinel[0]["filtered_out"]
    assert any(m["label"] == "coord" for m in ms)


def _spatial_probes(seed: int, rows):
    """40 random probes; then, for each located row within 0.3° of ±180°,
    a probe at ±179.9° on the other side of the line, and for each row
    past 84.5° a probe 2° of longitude away at 84.9°."""
    rng = np.random.RandomState(seed)
    for _ in range(40):
        yield float(rng.uniform(-80, 80)), float(rng.uniform(-175, 175))
    for r in rows:
        lat, lon = r["lat"], r["lon"]
        if lat is None or lon is None:
            continue
        if abs(lon) >= 179.7:
            yield lat, -179.9 if lon > 0 else 179.9
        if abs(lat) >= 84.5:
            yield (84.9 if lat > 0 else -84.9), (lon + 182.0) % 360.0 - 180.0


def _agree(got, want):
    """Same places at the same distances, to < 1 mm; exact distance ties
    may order their ids differently."""
    assert len(got) == len(want), (got, want)
    assert all(abs(a - b) < 1e-3 for (a, _), (b, _) in zip(got, want))
    assert {pid for _d, pid in got} == {pid for _d, pid in want}
    assert len({pid for _d, pid in got}) == len(got)   # each place once


def _places_at(idx, lat, lon, radius_km=50, limit=5):
    return [(d, p.place_id)
            for d, p in idx.places_at(lat, lon, radius_km, limit=limit)]


def test_compact_spatial_matches_reference_impl(spark, tagger_pq, mmap_dir):
    """The artifact's grid agrees with an exhaustive scan of the same
    rows, to < 1 mm."""
    rows = spark.read.parquet(tagger_pq).collect()
    grid = MmapSpatialIndex(mmap_dir)
    for lat, lon in _spatial_probes(7, rows):
        _agree(_places_at(grid, lat, lon),
               _exhaustive_places_at(rows, lat, lon, 50, 5))


def _exhaustive_places_at(rows, lat, lon, radius_km, limit):
    """Exhaustive ``haversine_m`` scan over the rows with the grids'
    filters: what a grid lookup must return, without the grid."""
    keep = [r for r in rows
            if r["lat"] is not None and r["lon"] is not None
            and r["feat_class"] in ("P", "A") and r["cc"]
            and not str(r["feat_code"]).startswith("PCL")]
    d = [haversine_m(lat, lon, r["lat"], r["lon"]) for r in keep]
    out, seen = [], set()
    for k in np.argsort(d, kind="stable"):
        if d[k] > radius_km * 1000 or len(out) >= limit:
            break
        pid = keep[k]["place_id"]
        if pid not in seen:
            seen.add(pid)
            out.append((float(d[k]), pid))
    return out


def test_mmap_spatial_matches_compact(spark, tagger_pq, mmap_dir):
    """The grid the job's tables open over the artifact returns what an
    exhaustive scan of the same rows returns, to < 1 mm, including
    across ±180° and near the poles."""
    rows = spark.read.parquet(tagger_pq).collect()
    lon_of = {r["place_id"]: r["lon"] for r in rows}
    crossed = 0
    with _serving(gazetteer=mmap_dir):
        for lat, lon in _spatial_probes(11, rows):
            want = _exhaustive_places_at(rows, lat, lon, 50, 5)
            _agree(_places_at(tables.spatial_index(), lat, lon), want)
            if abs(lon) == 179.9:
                crossed += sum(lon_of[pid] * lon < 0 for _d, pid in want)
    assert crossed    # some probes' nearest places lie across ±180°


def _compile_rows(rows, pq_dir, mm_dir) -> str:
    """A gazetteer artifact at ``mm_dir`` compiled from ``rows``
    (one-token ``_COLS`` tuples) through a tagger parquet at ``pq_dir``."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(pq_dir)
    recs = [dict(zip(_COLS, r), phrase=r[1].lower()) for r in rows]
    pq.write_table(pa.Table.from_pylist(recs),
                   os.path.join(pq_dir, "part-0.parquet"))
    with open(os.path.join(pq_dir, "_normalization.json"), "w") as fh:
        json.dump({"normalization_version": matcher.NORMALIZATION_VERSION},
                  fh)
    build_mmap_artifact(pq_dir, mm_dir)
    return mm_dir


def test_grids_wrap_at_antimeridian_and_poles(tmp_path):
    """Places across ±180° and around a pole, where the reach spans the
    whole ring of longitude cells: the grid finds each place once, as
    the exhaustive scan does."""
    rows = [("E1", "Eastedge", "N", "P", "PPL", "FJ", "", 0.0, 179.95, 0, 1),
            ("W1", "Westedge", "N", "P", "PPL", "WS", "", 0.05, -179.95, 0, 1),
            ("W2", "Farwest", "N", "A", "ADM1", "WS", "01", 60.0, -179.8, 0,
             1),
            ("N1", "Northa", "N", "P", "PPL", "XX", "", 89.8, 10.0, 0, 1),
            ("N2", "Northb", "N", "P", "PPL", "XX", "", 89.7, -170.0, 0, 1),
            ("S1", "Southa", "N", "P", "PPL", "AQ", "", -89.9, 135.0, 0, 1)]
    grid = MmapSpatialIndex(_compile_rows(rows, str(tmp_path / "pq"),
                                          str(tmp_path / "mm")))
    dicts = [dict(zip(_COLS, r)) for r in rows]
    for lat, lon in [(0.0, 179.9), (0.0, -179.9), (60.0, 179.9),
                     (89.95, 0.0), (90.0, 0.0), (-89.95, -45.0)]:
        want = _exhaustive_places_at(dicts, lat, lon, 50, 10)
        assert want, (lat, lon)
        _agree(_places_at(grid, lat, lon, limit=10), want)


def test_dense_grid_matches_exhaustive(tmp_path, monkeypatch):
    """A probe with more candidates than ``MmapSpatialIndex.SMALL``
    measures them in one numpy pass: it returns what the exhaustive scan
    returns, and the same places in the same order as the per-candidate
    path, ties at equal distance ranked by place_id."""
    rng = np.random.RandomState(3)
    rows = [(f"D{i:03d}", f"Dense{i}", "N", "P", "PPL", "FR", "",
             48.85 + float(rng.uniform(-0.3, 0.3)),
             2.35 + float(rng.uniform(-0.3, 0.3)), 0, 1) for i in range(150)]
    rows += [("T2", "Twinb", "N", "P", "PPL", "FR", "", 48.9, 2.4, 0, 1),
             ("T1", "Twina", "N", "P", "PPL", "FR", "", 48.9, 2.4, 0, 1)]
    mm = _compile_rows(rows, str(tmp_path / "pq"), str(tmp_path / "mm"))
    dicts = [dict(zip(_COLS, r)) for r in rows]
    probes = [(48.9, 2.4)] + [(48.85 + float(rng.uniform(-0.4, 0.4)),
                               2.35 + float(rng.uniform(-0.4, 0.4)))
                              for _ in range(20)]
    for lat, lon in probes:
        want = _exhaustive_places_at(dicts, lat, lon, 50, 10)
        by_path = []
        for small in (0, 10**6):
            monkeypatch.setattr(MmapSpatialIndex, "SMALL", small)
            grid = MmapSpatialIndex(mm)     # its cells read under ``small``
            got = _places_at(grid, lat, lon, limit=10)
            _agree(got, want)
            by_path.append([pid for _d, pid in got])
        assert by_path[0] == by_path[1]
    assert _places_at(grid, 48.9, 2.4, limit=2)[0][1] == "T1"


def test_recompiled_artifact_is_reopened(spark, tmp_path):
    """An artifact recompiled in place between two jobs of one session
    is opened again: the second job tags the new rows, in every reused
    python worker."""
    import datetime

    from xponents_spark.pipeline import extract
    from xponents_spark.schemas import TRANSCRIPT_SCHEMA

    mm = str(tmp_path / "tagger.mmap")
    text = "we met in Qwertyville and then in Zxcvbton"
    df = spark.createDataFrame(
        [(f"c{i}", 0, "user", text, None, datetime.datetime(2025, 1, 1))
         for i in range(16)], TRANSCRIPT_SCHEMA).repartition(8)

    def places():
        out = extract(df, features=("places",), gazetteer_parquet=mm)
        return sorted({m["matchtext"] for r in out.collect()
                       for m in r["matches"] if m["label"] == "place"})

    for i, name in enumerate(["Qwertyville", "Zxcvbton"]):
        _compile_rows([(f"Q{i}", name, "N", "P", "PPLA", "US", "CA",
                        34.0 + i, -118.0, 5, 500_000)],
                      str(tmp_path / f"pq{i}"), mm)
        assert places() == [name]


def test_parquet_gazetteer_resets_cleanly(mmap_dir):
    """The file-backed and the embedded slots serve the same index
    classes, and leaving the artifact goes back to the embedded rows."""
    from xponents_spark.gazetteer import spatial

    def served():
        # the phrase index and the grid share one set of open files
        assert matcher.gaz_index().f is spatial.spatial_index().f
        return type(matcher.gaz_index()), type(spatial.spatial_index())

    with _serving(gazetteer=mmap_dir):
        file_backed = served()
    assert file_backed == (MmapGazetteerIndex, MmapSpatialIndex)
    # back to the embedded fixture gazetteer, served by the same classes
    assert served() == file_backed
    assert matcher.gaz_index().f.meta is tables.embedded("gazetteer")[
        "meta.json"]
    assert matcher.gaz_index().scan("the London office") != []


def test_postal_parquet_path(spark, tmp_path_factory):
    """Compiled postal table: lazy worker-side open, reset semantics, and
    an end-to-end tag against a synthesized code."""
    from xponents_spark.gazetteer import postal
    from xponents_spark.sources.gazetteer_synth import synthesize_postal_raw

    base = tmp_path_factory.mktemp("postal")
    out = str(base / "postal.parquet")
    mm = str(base / "postal.mmap")
    synthesize_postal_raw(spark, n_rows=5_000, partitions=4) \
        .write.mode("overwrite").parquet(out)
    assert postal.build_postal_mmap(out, mm)["n_keys"] > 3_000
    from xponents_spark.gazetteer.mmapstore import MmapKeyedTable
    with _serving(postal=mm):
        # lazy until first lookup
        assert "postal_codes" not in vars(tables._slot)
        assert isinstance(tables.postal_codes(), MmapKeyedTable)
        row = spark.read.parquet(out).first()
        # a code adjacent to country scope resolves through the big table
        hits = postal.tag_postals(f"parcel code {row['code']} sent", [],
                                  {row["cc"]})
        assert any(h["cc"] == row["cc"] and h["matchtext"] == row["code"]
                   for h in hits)
    assert tables.postal_codes().n == len(postal.POSTAL_ROWS)


def test_taxcat_parquet_path(spark, tmp_path):
    """T4 scale artifact (VERDICT r2 item 7): synth JRC/person-scale
    lexicon -> ETL -> parquet -> compiled artifact -> worker-side index;
    known names tag, the valid:false gate holds, and reset semantics
    restore the embedded lexicons."""
    from xponents_spark.sources.taxcat_etl import (synthesize_taxcat_raw,
                                                   taxcat_etl)

    mm = _taxcat_mmap(taxcat_etl(synthesize_taxcat_raw(
        spark, n_rows=40_000, partitions=8)), tmp_path)
    rows = spark.read.parquet(str(tmp_path / "taxcat.parquet")).collect()
    assert len(rows) > 1_000
    valid = next(r for r in rows if r["valid"])
    with _serving(taxcat=mm):
        hits = matcher.tag_taxons(f"meeting with {valid['name']} tomorrow")
        assert any(m == valid["name"] and k == valid["kind"]
                   for _s, _e, m, k, _c, _cc in hits)
        # an invalid row whose name is not also a valid entry must not tag
        valid_names = {r["name"].lower() for r in rows if r["valid"]}
        bad = next((r for r in rows
                    if not r["valid"] and r["name"].lower() not in valid_names),
                   None)
        if bad is not None:
            hits = matcher.tag_taxons(f"meeting with {bad['name']} tomorrow")
            assert not any(m == bad["name"]
                           for _s, _e, m, _k, _c, _cc in hits)
    # embedded lexicons restored
    assert matcher.tag_taxons("the Australian delegation")


def test_embedded_taxcat_rows_do_not_follow_hash_order(spark):
    """The person lexicon is a frozenset; its rows come out sorted, so the
    taxcat parquet written from them is the same under any
    PYTHONHASHSEED."""
    from xponents_spark.gazetteer import data
    from xponents_spark.sources.taxcat_etl import embedded_taxcat_df
    names = [r["name"] for r in embedded_taxcat_df(spark).collect()
             if r["kind"] == "person"]
    assert names == sorted(data.PERSON_NAMES)


def _embedded_taxcat_mmap(spark, tmp_path) -> str:
    from xponents_spark.sources.taxcat_etl import embedded_taxcat_df
    return _taxcat_mmap(embedded_taxcat_df(spark).repartition(1)
                        .sortWithinPartitions("kind", "name"), tmp_path)


def test_taxcat_parquet_matches_embedded(spark, tmp_path):
    """Embedded lexicons written through the taxcat ETL (in another row
    order) and compiled produce the exact same taxon tags as the embedded
    table (the correctness gate's equivalence)."""
    mm = _embedded_taxcat_mmap(spark, tmp_path)
    probe = ("Mr Smith of Acme Corporation met the Australian envoy "
             "and French officials in town")
    base = matcher.tag_taxons(probe)
    with _serving(taxcat=mm):
        assert matcher.tag_taxons(probe) == base


def test_postal_mmap_path(spark, tmp_path_factory, monkeypatch):
    """Keyed mmap postal table: same tags as a code dict built from the
    same rows, O(1) private heap (the 4M-tuple reference-scale answer)."""
    from xponents_spark.gazetteer import postal
    from xponents_spark.sources.gazetteer_synth import synthesize_postal_raw

    base = tmp_path_factory.mktemp("postal_mm")
    pq_path = str(base / "postal.parquet")
    mm_path = str(base / "postal.kvmmap")
    synthesize_postal_raw(spark, n_rows=5_000, partitions=4) \
        .write.mode("overwrite").parquet(pq_path)
    meta = postal.build_postal_mmap(pq_path, mm_path)
    rows = [tuple(r) for r in spark.read.parquet(pq_path)
            .select("cc", "adm1", "code", "name", "lat", "lon").collect()]
    assert meta["n_rows"] == len(rows)

    probes = [(f"parcel code {r[2]} sent", r[0]) for r in rows[:40]]
    # the reference side: a plain dict of normalized code -> rows
    by_code = {}
    for r in rows:
        by_code.setdefault(r[2].replace(" ", "").upper(), []).append(r)
    with monkeypatch.context() as m:
        m.setattr(postal, "postal_codes", lambda: by_code)
        via_dict = [postal.tag_postals(t, [], {cc}) for t, cc in probes]
    with _serving(postal=mm_path):
        assert "postal_codes" not in vars(tables._slot)     # lazy
        via_mmap = [postal.tag_postals(t, [], {cc}) for t, cc in probes]
    assert via_mmap == via_dict and all(via_mmap)


def test_normalization_version_fingerprint(spark, tmp_path_factory):
    """The compile step copies the tagger parquet's normalization version
    into the artifact, and opening an artifact built under different
    normalization semantics is refused instead of silently not matching."""
    import json
    import os

    base = tmp_path_factory.mktemp("gazv")
    out = str(base / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=500, partitions=2)
    build_tagger_parquet(gazetteer_etl(raw), out)
    meta = os.path.join(out, "_normalization.json")
    assert json.load(open(meta))["normalization_version"] >= 2
    cur = str(base / "cur")
    build_mmap_artifact(out, cur)
    MmapGazetteerIndex(cur)     # current version opens
    json.dump({"normalization_version": 1}, open(meta, "w"))
    stale = str(base / "stale")
    assert build_mmap_artifact(out, stale)["normalization_version"] == 1
    with open(os.path.join(stale, "meta.json")) as fh:
        assert json.load(fh)["normalization_version"] == 1
    with pytest.raises(ValueError, match="normalized with version"):
        MmapGazetteerIndex(stale)


def test_mmap_index_matches_phrase_index(spark, tagger_pq, mmap_dir):
    """Shared-memory path parity: MmapGazetteerIndex.scan must equal the
    phrase oracle's scan over the same rows (spans, matchtext, hydrated
    places) on texts containing known names, multi-token names, and
    misses."""
    rows = spark.read.parquet(tagger_pq).collect()
    mem = _phrase_index(rows)
    mm_idx = MmapGazetteerIndex(mmap_dir)
    texts = [f"we visited {r['name']} on the way home" for r in rows[:80]]
    texts += ["no placenames at all here", "", "a b c d e f g",
              f"{rows[0]['name']} and {rows[1]['name']} twice "
              f"{rows[0]['name']}"]
    for text in texts:
        a = [(s, e, m, sorted((p.place_id, p.cc, p.lat, p.pop) for p in pl))
             for s, e, m, pl in mem.scan(text)]
        b = [(s, e, m, sorted((p.place_id, p.cc, p.lat, p.pop) for p in pl))
             for s, e, m, pl in mm_idx.scan(text)]
        assert a == b, text[:60]


def test_extract_with_mmap_gazetteer(spark, tagger_pq, mmap_dir):
    """End-to-end Spark path over the mmap artifact: workers map the
    compiled gazetteer (no driver collect) and tag a known name."""
    import datetime

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from xponents_spark.pipeline import extract
    from xponents_spark.schemas import TRANSCRIPT_SCHEMA

    name = spark.read.parquet(tagger_pq) \
        .filter("name_type = 'N' AND length(name) >= 8") \
        .orderBy("place_id").first()["name"]
    rows = [Row(conv_id="c0", turn_idx=i, role="user",
                text=f"meeting in {name} tomorrow", tool=None,
                ts=datetime.datetime(2025, 1, 1)) for i in range(6)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = extract(df, features=("places", "countries"),
                  gazetteer_parquet=mmap_dir)
    got = (out.select(F.explode("matches").alias("m"))
              .filter(F.col("m.label").isin("place", "country"))
              .select("m.matchtext").collect())
    assert len(got) == 6
    assert all(r["matchtext"] == name for r in got)


def test_mmap_version_fingerprint(tagger_pq, tmp_path_factory):
    import json
    import os

    out = str(tmp_path_factory.mktemp("gazmmv") / "tagger.mmap")
    build_mmap_artifact(tagger_pq, out)
    MmapGazetteerIndex(out)
    meta = os.path.join(out, "meta.json")
    m = json.load(open(meta))
    m["normalization_version"] = 1
    json.dump(m, open(meta, "w"))
    with pytest.raises(ValueError, match="normalized with version"):
        MmapGazetteerIndex(out)


def test_cjk_names_tag_through_parquet_index(spark, tmp_path_factory):
    """CJK names in the scale gazetteer index as per-char phrases and tag
    inside unsegmented runs through the index the job's tables open over
    the compiled artifact."""
    base = tmp_path_factory.mktemp("gazcjk")
    out = str(base / "tagger.parquet")
    raw = synthesize_gazetteer_raw(spark, n_rows=30_000, partitions=8)
    build_tagger_parquet(gazetteer_etl(raw), out)
    cjk = (spark.read.parquet(out)
           .filter("name rlike '[\\\\x{4e00}-\\\\x{9fff}]'").limit(5).collect())
    assert cjk, "synth should emit CJK names"
    mm = str(base / "tagger.mmap")
    build_mmap_artifact(out, mm)
    with _serving(gazetteer=mm):
        idx = matcher.gaz_index()
        for r in cjk:
            hits = idx.scan(f"前往{r['name']}旅行")
            assert any(m == r["name"] for _s, _e, m, _p in hits), r["name"]


def test_taxcat_mmap_parity(spark, tmp_path):
    """The taxcat mmap artifact compiled from the embedded lexicons must
    tag IDENTICALLY to the phrase oracle over the same lexicons, over the
    fixture payload texts (same phrases, spans, payloads)."""
    import json
    import os

    from xponents_spark.gazetteer import data, mmapstore
    from xponents_spark.sources.payloads import PAYLOADS

    mm_dir = _embedded_taxcat_mmap(spark, tmp_path)
    with open(os.path.join(mm_dir, "meta.json")) as fh:
        assert json.load(fh)["format"] == mmapstore._TAX_FORMAT
    oracle = PhraseIndex(
        [(n, ("person", n, None)) for n in data.PERSON_NAMES]
        + [(k, ("org", c, None)) for k, c in data.ORG_NAMES.items()]
        + [(n, ("nationality", n, cc))
           for n, cc in data.NATIONALITIES.items()])

    texts = [body for _kind, body in PAYLOADS if body] + [
        "Dr. Maria Santos of the World Health Organization met the "
        "Brazilian delegation",
        "", "no entities here at all"]
    a = [[(s, e, m, *pl[0]) for s, e, m, pl in oracle.scan(t)]
         for t in texts]
    assert [matcher.tag_taxons(t) for t in texts] == a     # embedded
    with _serving(taxcat=mm_dir):
        b = [matcher.tag_taxons(t) for t in texts]
    assert a == b
    assert any(a)    # fixtures actually contain taxons


def test_candidate_cap_matches_oracle(tmp_path, monkeypatch):
    """A phrase with more places than ``matcher.CANDIDATE_CAP`` hydrates
    only the top places by id_bias, bias ties kept in table order, as
    the oracle's cap over the same rows does (the cap patched low)."""
    biases = [3, 5, 5, 1, 7, 5, 2]
    rows = [(f"CV{i}", "Capville", "N", "P", "PPL", "US", "CA", 34.0,
             -118.0 + i, b, 1000) for i, b in enumerate(biases)]
    grid = MmapGazetteerIndex(_compile_rows(rows, str(tmp_path / "pq"),
                                            str(tmp_path / "mm")))
    oracle = PhraseIndex([(r[1], Place(*r)) for r in rows])
    monkeypatch.setattr(matcher, "CANDIDATE_CAP", 3)
    text = "we drove to Capville today"
    (_s, _e, _m, got), = grid.scan(text)
    (_s, _e, _m, want), = oracle.scan(text)
    assert [p.place_id for p in got] == \
        [p.place_id for p in _cap_places(want)] == ["CV4", "CV1", "CV2"]


def test_empty_tables_open(tmp_path):
    """A gazetteer, taxcat and postal parquet with no rows each compile
    through the file route into an artifact that opens and tags
    nothing."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xponents_spark.gazetteer import geocode, postal
    from xponents_spark.gazetteer.spatial import reverse_geocode

    def empty_parquet(name, schema, sidecar=True):
        path = str(tmp_path / name)
        os.makedirs(path)
        pq.write_table(pa.schema(schema).empty_table(),
                       os.path.join(path, "part-0.parquet"))
        if sidecar:
            with open(os.path.join(path, "_normalization.json"), "w") as fh:
                json.dump({"normalization_version":
                           matcher.NORMALIZATION_VERSION}, fh)
        return path

    s, f, i = pa.string(), pa.float64(), pa.int64()
    gaz = str(tmp_path / "gaz.mmap")
    assert build_mmap_artifact(empty_parquet(
        "gaz.parquet", [(c, s) for c in _COLS[:7]]
        + [("lat", f), ("lon", f), ("id_bias", i), ("pop", i),
           ("phrase", s)]), gaz)["n_rows"] == 0
    tax = str(tmp_path / "tax.mmap")
    assert build_taxcat_mmap(empty_parquet(
        "tax.parquet", [("phrase", s), ("kind", s), ("canonical", s),
                        ("cc", s), ("valid", pa.bool_())]),
        tax)["n_rows"] == 0
    pos = str(tmp_path / "postal.mmap")
    assert postal.build_postal_mmap(empty_parquet(
        "postal.parquet", [("cc", s), ("adm1", s), ("code", s), ("name", s),
                           ("lat", f), ("lon", f)], sidecar=False),
        pos)["n_keys"] == 0

    text = "Mr Smith met the Australian envoy in London, NSW 2019"
    want = geocode(text)
    assert {m["label"] for m in want} >= {"place", "nationality", "postal"}
    with _serving(gazetteer=gaz, taxcat=tax, postal=pos):
        assert geocode(text) == []
        assert reverse_geocode(51.5, -0.12) == {}
        assert tables.postal_codes().n == 0
        assert tables.postal_codes().get("2019") == []
    assert geocode(text) == want        # the embedded tables again


def test_embedded_compiles_like_file_route(spark, sf_dir, tmp_path):
    """The embedded rows compiled in memory equal, buffer for buffer and
    byte for byte, the same rows compiled through the public file route,
    and ``extract`` over the sf0.01 turns gives equal rows from both."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xponents_spark.gazetteer import data, postal
    from xponents_spark.pipeline import extract
    from xponents_spark.sources import synthesize_transcripts
    from xponents_spark.sources.taxcat_etl import (build_taxcat_parquet,
                                                   embedded_taxcat_df)

    gaz_pq, gaz = str(tmp_path / "gaz.parquet"), str(tmp_path / "gaz.mmap")
    build_tagger_parquet(spark.createDataFrame(
        data.GAZETTEER_ROWS,
        "place_id string, name string, name_type string, feat_class string, "
        "feat_code string, cc string, adm1 string, lat double, lon double, "
        "id_bias int, pop bigint").coalesce(1), gaz_pq)
    build_mmap_artifact(gaz_pq, gaz)
    tax_pq, tax = str(tmp_path / "tax.parquet"), str(tmp_path / "tax.mmap")
    build_taxcat_parquet(embedded_taxcat_df(spark).coalesce(1), tax_pq)
    build_taxcat_mmap(tax_pq, tax)
    pos_pq, pos = str(tmp_path / "pos.parquet"), str(tmp_path / "pos.mmap")
    os.makedirs(pos_pq)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(("cc", "adm1", "code", "name", "lat", "lon"), r))
         for r in postal.POSTAL_ROWS]), os.path.join(pos_pq, "part-0.parquet"))
    postal.build_postal_mmap(pos_pq, pos)

    for table, path in (("gazetteer", gaz), ("taxcat", tax), ("postal", pos)):
        bufs = tables.embedded(table)
        assert sorted(bufs) == sorted(os.listdir(path)), table
        for name, buf in bufs.items():
            with open(os.path.join(path, name), "rb") as fh:
                raw = fh.read()
            if name == "meta.json":
                assert json.loads(raw) == buf, table
            elif name.endswith(".npy"):
                got = np.load(os.path.join(path, name))
                assert got.dtype == buf.dtype and got.shape == buf.shape
                assert got.tobytes() == buf.tobytes(), (table, name)
            else:
                assert raw == buf, (table, name)

    turns = synthesize_transcripts(
        spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))

    def rows(**paths):
        return sorted(extract(turns, **paths).collect(),
                      key=lambda r: (r["conv_id"], r["turn_idx"]))

    embedded = rows()
    assert rows(gazetteer_parquet=gaz, taxcat_parquet=tax,
                postal_parquet=pos) == embedded
    labels = {m["label"] for r in embedded for m in r["matches"]}
    assert {"place", "country", "postal"} <= labels
    assert labels & {"person", "org", "nationality"}
