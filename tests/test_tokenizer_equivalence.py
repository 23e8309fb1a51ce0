"""The core-token regex (edge-punct trimmed in one C scan) must equal the
definitional tokenization: whitespace split then .strip(_EDGE_PUNCT), CJK
runs to per-char tokens.  Property-fuzzed — this pins the normalization
semantics the fixture contract depends on (SURVEY.md §4.3.1).  The same
holds for TokenView, on both its ASCII fast path (one findall, lazy
spans) and its per-token path."""

from hypothesis import HealthCheck, given, settings, strategies as st

from xponents_spark.gazetteer.matcher import (
    _CJK_CHAR, _EDGE_PUNCT, _WS_TOKEN, TokenView, normalize_token,
    tokens_with_offsets)


def reference_tokens(text):
    out = []
    for m in _WS_TOKEN.finditer(text):
        s, e = m.start(), m.end()
        while s < e and text[s] in _EDGE_PUNCT:
            s += 1
        while e > s and text[e - 1] in _EDGE_PUNCT:
            e -= 1
        if e <= s:
            continue
        chunk = text[s:e]
        if not chunk.isascii() and _CJK_CHAR.search(chunk):
            for i, ch in enumerate(chunk):
                if _CJK_CHAR.match(ch):
                    out.append((normalize_token(ch), s + i, s + i + 1))
        else:
            out.append((normalize_token(chunk), s, e))
    return out


def assert_view_matches_reference(text):
    ref = reference_tokens(text)
    view = TokenView(text)
    assert view.norms == [t for t, _s, _e in ref]
    assert view.spans == [(s, e) for _t, s, e in ref]
    assert tokens_with_offsets(text) == ref
    # a view over the legacy tuple list reads back the same tokens
    legacy = TokenView.from_tuples(text, ref)
    assert (legacy.norms, legacy.spans) == (view.norms, view.spans)


# ASCII-heavy text: mixed case, every edge-punct char, U.S.-style
# abbreviations and every ASCII whitespace char the core regex splits on
_ASCII_PIECES = st.one_of(
    st.text(alphabet="aBcDeXyZ019-/&@", min_size=1, max_size=8),
    st.sampled_from(list(_EDGE_PUNCT)),
    st.sampled_from(["U.S.", "u.k", "e.g.", "A.B.C.", "(U.S.)", "'s",
                     "St.", "...", "N.Y.C.", "Washington,", "PARIS!"]),
    st.sampled_from([" ", "\t", "\n", "\r", "\x0b", "\x0c",
                     "\x1c", "\x1d", "\x1e", "\x1f"]),
)
_ASCII_TEXT = st.lists(_ASCII_PIECES, max_size=40).map("".join)


@settings(max_examples=500, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.text(max_size=150))
def test_tokenizer_equivalence_fuzz(text):
    assert_view_matches_reference(text)


@settings(max_examples=500, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_ASCII_TEXT)
def test_tokenizer_equivalence_ascii_fuzz(text):
    assert text.isascii()
    assert_view_matches_reference(text)


def test_tokenizer_equivalence_cases():
    for t in ["(U.S.)", "don't, stop", ",a,b,", "...", "x", "a..b..",
              "北京,上海", " 'quoted' ", "e.g.|x", "0ힰ", "한국 서울!",
              "", "  \x1c\x1f ", "New York\x0bCITY", "[San]|(Diego)"]:
        assert_view_matches_reference(t)
