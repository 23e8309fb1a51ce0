"""FlexPat engine + embedded #TEST corpora.

Mirrors the reference's primary operator-level test mechanism: every RULE in
the pattern cfgs carries TEST lines (incl. FAIL negatives) executed by a
default_tests() equivalent (SURVEY.md §5.1; reference convention documented
at /root/reference/doc/Patterns.md TEST clause).
"""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xponents_spark import flexpat
from xponents_spark.flexpat import (DIGITS, PatternManager, PatternMatch,
                                    ScanCtx, _rule_spans, pattern_file,
                                    reduce_matches)
import xponents_spark.extractors.xcoord as xcoord
import xponents_spark.extractors.xtemporal as xtemporal
import xponents_spark.extractors.poli as poli


@pytest.mark.parametrize("mod", [xcoord, xtemporal, poli],
                         ids=["xcoord", "xtemporal", "poli"])
def test_embedded_corpus(mod):
    results = mod.manager().run_default_tests()
    failures = [f"{r['test']}: {r['text']!r}" for r in results if not r["pass"]]
    assert not failures, failures


def test_cfg_parse_shapes():
    mgr = PatternManager(pattern_file("geocoord_patterns.cfg"))
    assert mgr.families == {"DD", "DM", "DMS", "MGRS", "UTM"}
    dd01 = mgr.rules["DD-01"]
    # ordered group names reflect slot appearance order
    assert dd01.group_names[0] == "hemiLatPre"
    assert "decDegLon" in dd01.group_names


def test_unknown_family_raises():
    mgr = PatternManager(pattern_file("poli_patterns.cfg"))
    with pytest.raises(ValueError):
        mgr.scan("text", families=["NOPE"])


def test_context_len_is_applied():
    mgr = poli.manager()
    text = "call them at 555-123-4567 after lunch"
    ms = mgr.scan(text, families=["PHONE"], context_len=5)
    assert [(m.pre_text, m.post_text) for m in ms] == [("m at ", " afte")]
    ms = mgr.scan(text, families=["PHONE"])
    assert [(m.pre_text, m.post_text) for m in ms] == [
        ("call them at ", " after lunch")]


def test_money_code_after_any_whitespace():
    """MONEY-02 allows any \\s between amount and code (a literal-space
    gate once hid the tab).  extract_turn's content recovery turns the
    tab into a space, so only the raw scan shows it."""
    ms = [(m.pattern_id, m.text, m.attrs) for m in
          poli.extract_poli("paid 100\tUSD") if not m.filtered_out]
    assert ms == [("MONEY-02", "100\tUSD",
                   {"amount": 100.0, "currency": "USD"})]


_MANAGERS = [mod.manager() for mod in (xcoord, xtemporal, poli)]
_ALL_RULES = [(mgr, rule) for mgr in _MANAGERS for rule in mgr.rules.values()]


def test_scan_window_derivation():
    """Each rule's anchor and digit window are derived from the compiled
    regex; pin the result for the shipped cfgs."""
    rules = {rule.rule_id: rule for _mgr, rule in _ALL_RULES}
    assert len(rules) == len(_ALL_RULES)
    punct = {"EMAIL-01": "@", "URL-01": ":", "MAC-01": ":"}
    unbounded = {"DD-04", "MONEY-01", "MONEY-02", "EMAIL-01", "URL-01"}
    for rid, rule in rules.items():
        assert rule.anchor == punct.get(rid, DIGITS), rid
        if rid in unbounded:
            assert rule.width is None and rule.reach is None, rid
        else:
            assert rule.width is not None, rid
            assert rule.reach >= rule.width + 2, rid


_FILLER = st.lists(st.sampled_from(
    ["N", "S", "Lat", "March", "Jan.", "LAT:", "lon", "deg", "the", "at",
     "grid", "DEG", "T", "t", "e", "w", "\n", "   ", "Sep", "ſep", "USD",
     "usd", "\t", "\u212a", "mail@host.org", "x@", "http://ex.org/a", "ftp:",
     "ab:cd:ef", "$", "€"]), max_size=60).map(
    lambda ws: " ".join(ws)[:300])
_PAYLOAD = st.one_of(
    st.text(alphabet="0123456789" * 4 + "NSEWnsew°º′″'\".,-+:;/ \t\n٣٧"
            "@$€abcdefABCDEFtſ\u212a", max_size=40),
    st.sampled_from(["ſep 5, 2020", "5 ſep 2020", "100\tusd", "7 USD",
                     "20200101t1200z", "0a:1b:2c:3d:4e:5f", "€ 12.50",
                     "555 123 4567", "10.0.0.1", "09/22/2017"]))
_TEXTS = st.lists(st.tuples(_FILLER, _PAYLOAD), min_size=1, max_size=4).map(
    lambda chunks: "".join(f + p for f, p in chunks))


def _windowed(mgr, rule, text):
    found = []
    spans = _rule_spans(rule, text,
                        ScanCtx(text).digit_clusters(mgr.cluster_gap))
    if spans:
        mgr._scan_rule(rule, text, len(text), found, 20, spans)
    return [(m.start, m.end, m.slots) for m in found]


def _plain(rule, text):
    return [(m.start(), m.end(),
             [(name, m.group(i + 1), s, e)
              for i, (name, (s, e)) in enumerate(zip(rule.group_names,
                                                     m.regs[1:]))])
            for m in rule.regex.finditer(text)]


@settings(max_examples=300, deadline=None)
@given(_TEXTS)
def test_windowed_scan_equals_plain_finditer(text):
    """A digit-free lead of up to 300 chars, then payloads of digits,
    hemisphere letters, degree/prime marks, separators, anchor chars
    (@ : $ €), hex letters and case traps (t, long s, Kelvin sign), or a
    known match shape, in several chunks, so digit clusters far apart get
    separate windows: every rule of every cfg finds exactly what a
    whole-text finditer finds."""
    for mgr, rule in _ALL_RULES:
        assert _windowed(mgr, rule, text) == _plain(rule, text), rule.rule_id


_TIGHT_RULES = {
    # matches start width-1 chars before their only digit
    "T-lead": r"(?<![a-z])[a-z]{5}\d",
    # matches run width-1 chars past their last digit, then look further
    "T-look": r"\d[a-z]{0,6}(?=[a-z]{0,3}x)",
    "T-bound": r"\d[a-z]{1,4}\b",
    "T-end": r"\d[a-z]{1,3}$",
    "T-branch": r"(?:[a-z]{3}|\d)\d[a-z]?(?!\d)",
}
_TIGHT_TEXTS = st.lists(
    st.tuples(st.text(alphabet="abcx \n", max_size=120),
              st.text(alphabet="0123456789abx", max_size=8)),
    min_size=1, max_size=5).map(lambda chunks: "".join(f + p for f, p in chunks))


@pytest.fixture(scope="module")
def tight_manager(tmp_path_factory):
    cfg = tmp_path_factory.mktemp("cfg") / "tight.cfg"
    cfg.write_text("".join(f"#RULE\t{rid.split('-')[0]}\t{rid.split('-')[1]}"
                           f"\t{rx}\n" for rid, rx in _TIGHT_RULES.items()))
    return PatternManager(str(cfg))


@settings(max_examples=300, deadline=None)
@given(_TIGHT_TEXTS)
def test_windows_exact_at_tight_bounds(tight_manager, text):
    """Rules whose matches reach the window's edges: one that starts
    width-1 chars before its digit, and ones that read up to their
    lookahead, \\b or $ just past the longest match."""
    for rule in tight_manager.rules.values():
        assert rule.anchor == DIGITS and rule.width is not None, rule.rule_id
        assert _windowed(tight_manager, rule, text) == _plain(rule, text), \
            rule.rule_id


def test_scan_window_of_regex_shapes():
    from xponents_spark.flexpat import _scan_window

    def window(rx):
        return _scan_window(re.compile(rx, re.IGNORECASE))

    assert window(r"\d") == (DIGITS, 1, 3)
    assert window(r"[0-9]{2}(?=abc)") == (DIGITS, 2, 2 + 3 + 2)
    assert window(r"[0-9a]") == (None, 1, 3)
    assert window(r"ab|\d\d")[0] is None
    assert window(r"ab|\d\d|c\d")[0] is None
    assert window(r"a\d|\d\d|\dc")[0] == DIGITS
    assert window(r"\d?x")[0] is None
    assert window(r"x(?:\d{1,3}|y\d)")[0] == DIGITS
    assert window(r"٣x")[0] == DIGITS
    assert window(r"x\d+") == (DIGITS, None, None)
    assert window(r"\d(?=.*x)") == (DIGITS, None, None)
    assert window(r"(?=\d)x")[0] is None
    # punctuation anchors: the first one every match consumes
    assert window(r"\w+@\w+\.org") == ("@", None, None)
    assert window(r"[a.]+@x\.y")[0] == "@"
    assert window(r"\.?a:b\.")[0] == ":"
    assert window(r"a(?:-b|c)-d")[0] == "-"
    assert window(r"a(?:-b|:c)")[0] is None
    assert window(r"(?:x:|y:)z")[0] == ":"
    assert window(r"a@?b:{0,2}c")[0] is None
    assert window(r"a(?=@)b|c(?!:)")[0] is None
    assert window(r"a[@]b")[0] == "@"
    assert window(r"a[@:]b")[0] is None
    assert window(r"a_b§c")[0] is None       # \w and non-ASCII: never
    assert window(r"@\d")[0] == DIGITS       # digits first


def test_digit_free_turn_skips_digit_bound_rules(monkeypatch):
    def rules_run(mgr, text):
        ran = []
        real = mgr._scan_rule
        monkeypatch.setattr(mgr, "_scan_rule",
                            lambda rule, *a: (ran.append(rule), real(rule, *a)))
        mgr.scan(text)
        monkeypatch.undo()
        return ran

    text = ("Lat North of the March line, Jan. notes say LAT: unknown; "
            "mail x@y.org or see http://example.org/a ab:cd:ef ") * 4
    for mgr in _MANAGERS:
        ran = rules_run(mgr, text)
        assert not [r.rule_id for r in ran if r.anchor == DIGITS]
        if mgr is poli.manager():
            assert {r.rule_id for r in ran} == {"EMAIL-01", "URL-01", "MAC-01"}
    # no digit, "@" or ":": no PoLi rule runs at all
    assert rules_run(poli.manager(),
                     text.replace("@", " ").replace(":", " ")) == []


def test_ascii_digit_free_text_skips_the_digit_search(monkeypatch):
    """An ASCII text without 0-9 has no digit runs, settled by C-level
    ``in`` checks: the ``\\d`` search does not run.  Any other text still
    takes it (``\\d`` also matches "٣")."""
    calls = []

    class Counting:
        def __init__(self, real):
            self.real = real

        def search(self, *a):
            calls.append(a[0])
            return self.real.search(*a)

    monkeypatch.setattr(flexpat, "_DIGIT_RE", Counting(flexpat._DIGIT_RE))
    text = "No digits in this ASCII turn, only words."
    assert ScanCtx(text).digit_clusters(10) == []
    assert calls == []
    assert ScanCtx("ab 12 c 345").digit_clusters(3) == [(3, 4), (8, 10)]
    assert ScanCtx("café, no digits").digit_clusters(10) == []
    assert ScanCtx("floor ٣٧ of 5").digit_clusters(2) == [(6, 7), (12, 12)]
    assert calls == ["ab 12 c 345", "café, no digits", "floor ٣٧ of 5"]


_NO_DIGITS = str.maketrans("", "", "0123456789٣٧")


@settings(max_examples=300, deadline=None)
@given(_TEXTS, st.booleans(), st.sampled_from(["", "@", ":", "@:"]))
def test_derived_gate_is_necessary(text, drop_digits, drop):
    """Whenever a rule's anchor says skip, a whole-text finditer finds
    nothing.  Texts are drawn with their digits and/or anchor chars
    removed, so the gate closes often."""
    if drop_digits:
        text = text.translate(_NO_DIGITS)
    text = text.translate(str.maketrans("", "", drop))
    for mgr, rule in _ALL_RULES:
        clusters = ScanCtx(text).digit_clusters(mgr.cluster_gap)
        if not _rule_spans(rule, text, clusters):
            assert next(rule.regex.finditer(text), None) is None, rule.rule_id


def _mk(text, start, end, pid="X-01"):
    return PatternMatch(text, start, end, pid, "X")


def test_reduce_matches_duplicate():
    a, b = _mk("abc", 0, 3), _mk("abc", 0, 3)
    reduce_matches([a, b])
    assert not a.is_duplicate and b.is_duplicate


def test_reduce_matches_submatch():
    outer, inner = _mk("abcdef", 0, 6), _mk("cd", 2, 4)
    reduce_matches([outer, inner])
    assert inner.is_submatch and not outer.is_submatch


def test_reduce_matches_overlap():
    a, b = _mk("abcd", 0, 4), _mk("cdef", 2, 6)
    reduce_matches([a, b])
    assert a.is_overlap and b.is_overlap and not a.is_submatch


def test_reduce_matches_disjoint():
    a, b = _mk("ab", 0, 2), _mk("cd", 5, 7)
    reduce_matches([a, b])
    assert not (a.is_overlap or b.is_overlap or a.is_duplicate or b.is_submatch)


def test_false_positive_traps():
    """Common real-world trap strings must extract nothing (version strings,
    invalid dates, bare years, ratios, MGRS/date collisions)."""
    from xponents_spark.pipeline import extract_turn, DEFAULT_FEATURES
    traps = [
        "version 3.14.159 released",
        "pip install pkg==2.4.1 now",
        "v1.2.3.4 build tag",
        "order #1234-5678 shipped",
        "IP 999.999.999.999 invalid",
        "on 13/13/2020 nothing",
        "price 1,234,567 units",
        "see section 42.18 paragraph 3",
        "ratio 16:9 and 4:3",
        "serial 38SMB was debated",
        "phone ext 5551212",
        "the year 2021 passed",
    ]
    for t in traps:
        _, ms = extract_turn(t, DEFAULT_FEATURES)
        assert ms == [], (t, [(m["label"], m["matchtext"]) for m in ms])


def test_extractors_run_from_the_package_zip_alone(tmp_path):
    """With only the package zip on ``sys.path`` (a cluster's
    ``--py-files``) and a working directory without ``xponents_spark/``,
    the pattern cfgs load as package resources and every extractor runs
    one of its #TEST cases."""
    import os
    import pathlib
    import subprocess
    import sys
    import zipfile

    import xponents_spark

    pkg = pathlib.Path(xponents_spark.__file__).parent
    zpath = tmp_path / "xponents_spark.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in sorted(pkg.rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                zf.write(f, f.relative_to(pkg.parent))
    script = f"""
import xponents_spark
assert xponents_spark.__file__.startswith({str(zpath)!r}), xponents_spark.__file__
from xponents_spark.extractors import poli, xcoord, xtemporal
for mod, extract in ((xcoord, xcoord.extract_coordinates),
                     (xtemporal, xtemporal.extract_dates),
                     (poli, poli.extract_poli)):
    case = next(c for c in mod.manager().test_cases if c.expect_match)
    ids = [m.pattern_id for m in extract(case.text)]
    assert case.rule_id in ids, (case.test_id, ids)
print("ZIP_OK")
"""
    env = dict(os.environ, PYTHONPATH=str(zpath))
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0 and "ZIP_OK" in out.stdout, out.stderr
