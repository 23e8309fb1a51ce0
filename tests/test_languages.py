"""Non-Latin tagging (T2 language routing + F2 length filters) — probe
classes from the reference's placename-tests-cjk.txt and
TestPlaceGeocoderLanguages.java:29-80."""

from xponents_spark.gazetteer import geocode
from xponents_spark.gazetteer.matcher import normalize_token, tokens_with_offsets


def places(text):
    return [m for m in geocode(text) if m["label"] == "place"]


def test_unsegmented_chinese():
    ms = places("我想去北京旅游")
    assert ms and ms[0]["name"] == "北京" and ms[0]["cc"] == "CN"
    assert (ms[0]["span_start"], ms[0]["span_end"]) == (3, 5)


def test_japanese_with_kana_noise():
    ms = places("東京タワーはどこですか")
    assert ms and ms[0]["cc"] == "JP" and ms[0]["matchtext"] == "東京"


def test_korean_with_particles():
    ms = places("서울에서 만나요")
    assert ms and ms[0]["cc"] == "KR"


def test_arabic_with_diacritic_fold():
    ms = places("الهجوم في بغداد أمس")
    assert ms and ms[0]["cc"] == "IQ" and ms[0]["name"] == "بغداد"


def test_arabic_length_filter():
    # 3-char Arabic PPLA name drops (F2: ME scripts < 6 chars need a major
    # feature code)
    assert not places("زيارة دبي غدا")


def test_simplified_variant_of_tokyo():
    ms = places("去东京")
    assert ms and ms[0]["cc"] == "JP"


def test_cjk_char_tokenization():
    toks = tokens_with_offsets("abc 北京x def")
    assert ("abc", 0, 3) in toks
    assert ("北", 4, 5) in toks and ("京", 5, 6) in toks
    assert ("def", 8, 11) in toks


def test_arabic_variant_normalization():
    assert normalize_token("أحمد") == normalize_token("احمد")


def test_arabic_light_stemming():
    """ArabicStemFilter analog (schema.xml:449-471; light10 family):
    definite-article prefixes and common suffixes strip with remainder
    guards, at index AND tag time — prefixed mentions match bare names."""
    # prefixes: wal-/bal-/al-/waw
    assert normalize_token("العراق") == normalize_token("عراق")
    assert normalize_token("والعراق") == normalize_token("عراق")
    assert normalize_token("بالعراق") == normalize_token("عراق")
    # teh-marbuta fold + suffix strip
    assert normalize_token("القاهرة") == normalize_token("قاهر")
    # guard: stripping never leaves < 2 chars
    assert normalize_token("الف") == "الف"
    # a prefixed mention geotags against the bare gazetteer name
    out = geocode("الهجوم بالعراق أمس")
    assert any(m.get("cc") == "IQ" for m in out), out


def test_arabic_stopwords_not_places():
    """Per-language stop set: Arabic function words never become places
    even if a gazetteer name collides."""
    from xponents_spark.gazetteer import data
    assert normalize_token("في") in data.STOPWORDS
    assert normalize_token("على") in data.STOPWORDS


def test_cjk_percharacter_equals_bigram_matching():
    """CJK bigram-field equivalence (schema.xml:416-447): matching names as
    per-char token sequences finds exactly the spans a CJKBigramFilter
    index would (overlapping bigram AND-chain), fuzz-checked."""
    import random

    from phrase_oracle import PhraseIndex

    from xponents_spark.gazetteer.matcher import (NORMALIZATION_VERSION,
                                                  Place, phrase_key)
    from xponents_spark.gazetteer.mmapstore import (MmapGazetteerIndex,
                                                    compile_gazetteer)

    rng = random.Random(11)
    chars = "北京都東海南西山川口市区街村"
    names = sorted({"".join(rng.choice(chars)
                            for _ in range(rng.randint(2, 4)))
                    for _ in range(30)})
    places = [Place(n, n, "N", "P", "PPL", "CN", "", 0.0, 0.0, 5, 1000)
              for n in names]
    cols = {f: [getattr(p, f) for p in places]
            for f in Place.__dataclass_fields__}
    cols["phrase"] = [phrase_key(n) for n in names]
    # the production index, compiled in memory, and the phrase oracle
    indices = (MmapGazetteerIndex(compile_gazetteer(cols,
                                                    NORMALIZATION_VERSION)),
               PhraseIndex([(p.name, p) for p in places]))
    for _ in range(200):
        text = "".join(rng.choice(chars) for _ in range(rng.randint(4, 18)))
        got, oracle = ({(s, e) for s, e, _m, _p in idx.scan(text)}
                       for idx in indices)
        assert got == oracle, text
        # oracle: greedy longest-dominant-right over brute-force substring
        # hits == what a bigram-chain matcher resolves to
        hits = []
        for n in names:
            start = 0
            while True:
                i = text.find(n, start)
                if i < 0:
                    break
                hits.append((i, i + len(n)))
                start = i + 1
        # LONGEST_DOMINANT_RIGHT: longest first, rightmost wins ties
        want = set()
        for s, e in sorted(hits, key=lambda x: (-(x[1] - x[0]), -x[0])):
            if all(not (s < we and ws < e) for ws, we in want):
                want.add((s, e))
        assert got == want, (text, got, want)
