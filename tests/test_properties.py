"""Property-based tests (hypothesis) for the pure kernels — beyond the
reference's example-based strategy (SURVEY.md §5.7 notes it has none)."""

import math
import os
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from xponents_spark.flexpat import PatternMatch, reduce_matches
from xponents_spark.functions.geo import (
    geohash_encode, haversine_m, ll_to_mgrs, ll_to_utm, mgrs_to_ll, utm_to_ll)
from xponents_spark.functions.textnorm import levenshtein, squeeze_whitespace


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=-79.9, max_value=83.9),
       st.floats(min_value=-179.9, max_value=179.9))
def test_utm_roundtrip_property(lat, lon):
    z, b, e, n = ll_to_utm(lat, lon)
    lat2, lon2 = utm_to_ll(z, lat >= 0, e, n)
    assert abs(lat2 - lat) < 1e-5
    assert abs((lon2 - lon + 180) % 360 - 180) < 1e-5


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=-79.5, max_value=83.5),
       st.floats(min_value=-179.5, max_value=179.5))
def test_mgrs_roundtrip_property(lat, lon):
    s = ll_to_mgrs(lat, lon)
    m = re.match(r"^(\d{1,2})([C-HJ-NP-X])([A-HJ-NP-Z]{2})(\d{5})(\d{5})$", s)
    assert m, s
    la, lo = mgrs_to_ll(int(m.group(1)), m.group(2), m.group(3),
                        int(m.group(4)), int(m.group(5)))
    assert abs(la - lat) < 2e-4
    assert abs((lo - lon + 180) % 360 - 180) < 2e-4


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=-90, max_value=90),
       st.floats(min_value=-180, max_value=180))
def test_geohash_prefix_property(lat, lon):
    # longer geohashes refine shorter ones (prefix property)
    g8 = geohash_encode(lat, lon, 8)
    for p in (3, 5, 6):
        assert geohash_encode(lat, lon, p) == g8[:p]


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=-89, max_value=89),
       st.floats(min_value=-179, max_value=179),
       st.floats(min_value=-89, max_value=89),
       st.floats(min_value=-179, max_value=179))
def test_haversine_metric_properties(a, b, c, d):
    assert haversine_m(a, b, a, b) < 1e-6
    d1, d2 = haversine_m(a, b, c, d), haversine_m(c, d, a, b)
    assert math.isclose(d1, d2, rel_tol=1e-9)
    assert d1 <= math.pi * 6371008.8 + 1


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=20), st.text(max_size=20))
def test_levenshtein_properties(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))
    assert d >= abs(len(a) - len(b))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=" \t\nabc", max_size=40))
def test_squeeze_whitespace_idempotent(s):
    once = squeeze_whitespace(s)
    assert squeeze_whitespace(once) == once
    assert "  " not in once and "\t" not in once and "\n" not in once


# every code point str.isspace() accepts (29 of them); re's \s matches
# exactly this set
_WHITESPACE = "".join(c for c in map(chr, range(0x110000)) if c.isspace())


# non-whitespace characters that are not printable, next to printable ones
_NONPRINTABLE = "\x00\x7f\u200b\u200d\u00ad\ufeff"
_SQUEEZED = st.lists(st.text(alphabet="abcé-" + _NONPRINTABLE, min_size=1,
                             max_size=6), max_size=6).map(" ".join)


def test_space_is_the_only_printable_whitespace():
    assert [c for c in _WHITESPACE if c.isprintable()] == [" "]


@settings(max_examples=800, deadline=None)
@given(st.one_of(
    st.text(alphabet=_WHITESPACE + "ab\u200b", max_size=40),
    st.text(alphabet=" \xa0\t\nab" + _NONPRINTABLE, max_size=40),
    _SQUEEZED,
    _SQUEEZED.map(lambda t: f" {t}\xa0\xa0"),
    st.text(alphabet="ab ", max_size=20)))
@example("already squeezed ascii")
@example("déjà squeezed")
@example("nul\x00 zwj\u200d shy\u00ad")
@example("a\xa0\xa0b")
@example(" a  b ")
def test_squeeze_whitespace_equals_regex_form(s):
    """Every branch: an already squeezed ASCII or non-ASCII text returned
    as is, non-printable non-whitespace kept, and the split fallback for
    runs, NBSP and other whitespace."""
    assert len(_WHITESPACE) == 29
    assert squeeze_whitespace(s) == re.sub(r"\s+", " ", s).strip()


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 50), st.integers(1, 20)), max_size=10))
def test_reduce_matches_invariants(spans):
    ms = [PatternMatch("x" * ln, s, s + ln, "T-01", "T") for s, ln in spans]
    reduce_matches(ms)
    # every span pair relationship must be consistent with the flags
    for i, m in enumerate(ms):
        for n in ms[i + 1:]:
            same = m.start == n.start and m.end == n.end
            if same:
                assert m.is_duplicate or n.is_duplicate
    # a duplicate never exists without an identical-span twin
    for m in ms:
        if m.is_duplicate:
            assert any(o is not m and o.start == m.start and o.end == m.end
                       for o in ms)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=200))
def test_pdf_roundtrip_property(text):
    """make_simple_pdf -> extract_pdf_text recovers the exact text: \\n is
    the line separator (one Tj per line) and \\r survives via escaping."""
    from xponents_spark.textract.pdf import extract_pdf_text, make_simple_pdf
    assert extract_pdf_text(make_simple_pdf(text)) == text


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_convert_document_total(payload):
    """Document conversion is total over arbitrary byte payloads."""
    from xponents_spark.textract import convert_document
    assert isinstance(convert_document(payload), str)
    assert isinstance(convert_document(b"%PDF-" + payload), str)


def test_lang_id_script_shortcuts(spark):
    """Script-range detection resolves non-latin writing systems before the
    marker vote; latin text still goes through the stopword profile."""
    from pyspark.sql import Row

    from xponents_spark.operators.textstats import lang_id

    rows = [
        Row(doc_id=1, text="我想去北京旅游"),
        Row(doc_id=2, text="東京タワーへ行く予定です"),
        Row(doc_id=3, text="서울에 갑니다"),
        Row(doc_id=4, text="الهجوم في بغداد أمس"),
        Row(doc_id=5, text="Привет мир как дела"),
        Row(doc_id=6, text="the cat and the dog of the house is here"),
        Row(doc_id=7, text="der hund ist nicht da und das ist gut"),
        Row(doc_id=8, text="xyzzy plugh"),
    ]
    got = {r["doc_id"]: r["lang_pred"]
           for r in lang_id(spark.createDataFrame(rows)).collect()}
    assert got == {1: "zh", 2: "ja", 3: "ko", 4: "ar", 5: "ru",
                   6: "en", 7: "de", 8: "und"}


# --- mmap gazetteer index parity fuzz (round 3) ------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "nova", "porta", "vista",
          "köln", "são", "mar", "bad", "el", "san", "north", "a1", "x"]


def _build_mmap_from_entries(tmpdir, names):
    """Tiny tagger parquet (pyarrow, no Spark) + mmap artifact from raw
    names — the exact phrase normalization build_tagger_parquet uses."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xponents_spark.gazetteer.matcher import (NORMALIZATION_VERSION,
                                                  tokens_with_offsets)

    rows = []
    for i, name in enumerate(names):
        phrase = " ".join(t for t, _s, _e in tokens_with_offsets(name) if t)
        if not phrase:
            continue
        rows.append({"place_id": f"P{i}", "name": name, "name_type": "N",
                     "feat_class": "P", "feat_code": "PPL", "cc": "XX",
                     "adm1": "", "lat": 10.0 + i, "lon": 20.0 + i,
                     "id_bias": i % 7, "pop": 1000 * i, "phrase": phrase})
    if not rows:
        return None
    pq_dir = os.path.join(tmpdir, "tagger.parquet")
    os.makedirs(pq_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(pq_dir, "part-0.parquet"))
    with open(os.path.join(pq_dir, "_normalization.json"), "w") as fh:
        json.dump({"normalization_version": NORMALIZATION_VERSION}, fh)
    out = os.path.join(tmpdir, "tagger.mmap")
    from xponents_spark.gazetteer.mmapstore import build_mmap_artifact
    build_mmap_artifact(pq_dir, out)
    return pq_dir, out


_ASCII_WORDS = [w for w in _WORDS if w.isascii()]


@st.composite
def _ascii_scan_word(draw, names):
    """A word or dictionary name as running ASCII text writes it: any
    casing, wrapped in edge punctuation, or abbreviation-dotted."""
    w = draw(st.sampled_from(_ASCII_WORDS + ["zzz", "42", "U.S."]
                             + [n for n in names if n.isascii()]))
    w = "".join(c.upper() if draw(st.booleans()) else c for c in w)
    pre = draw(st.sampled_from(["", "(", '"', "'", "[", "|"]))
    post = draw(st.sampled_from(["", ",", ".", ";", ":", "!", "?", ")",
                                 "]", "'s"]))
    return pre + w + post


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_mmap_scan_equals_phrase_index(data):
    """Random dictionaries x random texts: MmapGazetteerIndex.scan must
    equal the phrase oracle's scan exactly (spans, matchtext, place_id sets) —
    including multi-token phrases, phrase-prefix relationships, unicode
    names, dictionary misses, and mixed-case ASCII text with edge
    punctuation (the tokenizer's fast path).  Each index is given the
    TokenView, the legacy ``tokens_with_offsets`` list, and no tokens;
    all six scans agree."""
    import shutil
    import tempfile

    from phrase_oracle import PhraseIndex

    from xponents_spark.gazetteer import mmapstore
    from xponents_spark.gazetteer.matcher import (Place, TokenView,
                                                  tokens_with_offsets)

    names = data.draw(st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=3)
        .map(" ".join), min_size=1, max_size=12, unique=True))
    # names join the word pool so multi-token phrases hit often
    text_words = data.draw(st.one_of(
        st.lists(st.sampled_from(_WORDS + ["zzz", ",", "42"] + names),
                 min_size=0, max_size=25),
        st.lists(_ascii_scan_word(names), min_size=0, max_size=25)))
    text = " ".join(text_words)

    tmpdir = tempfile.mkdtemp(prefix="mmfuzz_")
    try:
        built = _build_mmap_from_entries(tmpdir, names)
        if built is None:
            return
        pq_dir, mm_dir = built
        import pyarrow.parquet as pq_mod
        tbl = pq_mod.read_table(os.path.join(pq_dir))
        cols = ["place_id", "name", "name_type", "feat_class", "feat_code",
                "cc", "adm1", "lat", "lon", "id_bias", "pop"]
        mem = PhraseIndex([
            (r["name"], Place(*[r[c] for c in cols]))
            for r in tbl.to_pylist()])
        indices = [mem, mmapstore.MmapGazetteerIndex(mm_dir)]
        want = [(s, e, m, sorted(p.place_id for p in pl))
                for s, e, m, pl in mem.scan(text)]
        for idx in indices:
            for toks in (TokenView(text), tokens_with_offsets(text), None):
                got = [(s, e, m, sorted(p.place_id for p in pl))
                       for s, e, m, pl in idx.scan(text, toks)]
                assert got == want, (type(idx).__name__, type(toks),
                                     names, text)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)



@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=400))
def test_gif_interlace_order_is_permutation(h):
    from xponents_spark.operators.multimodal import _gif_interlace_rows
    order = _gif_interlace_rows(h)
    assert sorted(order) == list(range(h))


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.tuples(
        st.floats(min_value=-180, max_value=180, allow_nan=False),
        st.floats(min_value=-90, max_value=90, allow_nan=False),
        st.text(max_size=80)),
    max_size=25))
def test_shapefile_shard_roundtrip_property(rows):
    """Pure-python shard writer/reader: any (lon, lat, label) list
    roundtrips — coordinates exactly (IEEE doubles on disk), labels to
    the 64-byte truncated utf-8 the DBF field stores."""
    import tempfile

    from xponents_spark.formats import (_write_shard,
                                        read_shapefile_points)
    with tempfile.TemporaryDirectory() as d:
        base = os.path.join(d, "s")
        _write_shard(rows, base)
        got = read_shapefile_points(base)
        assert len(got) == len(rows)
        for (lon, lat, label), (x, y, lb) in zip(rows, got):
            assert x == lon and y == lat
            exp = label.encode("utf-8", "replace")[:64] \
                .decode("utf-8", "replace").rstrip()
            assert lb == exp
