"""XTemporal normalization branch tests (reference semantics from
doc/pydoc/opensextant/extractors/xtemporal.html embedded source)."""

import pytest

from xponents_spark.extractors import xtemporal


def one(text):
    ms = [m for m in xtemporal.extract_dates(text) if not m.filtered_out]
    assert ms, f"no date in {text!r}"
    return ms[0]


def none_found(text):
    return not [m for m in xtemporal.extract_dates(text) if not m.filtered_out]


CASES = [
    ("09/22/2017", "2017-09-22", "D", "north-am"),
    ("30/05/1977", "1977-05-30", "D", "euro"),       # unambiguous euro
    ("3/5/1977", "1977-03-05", "D", "north-am"),     # ambiguous -> NA
    ("Sept 22nd, 2017", "2017-09-22", "D", "north-am"),
    ("22 SEPT 2017", "2017-09-22", "D", "north-am"),
    ("2017-09-22", "2017-09-22", "D", "north-am"),
    ("May 30 '89", "1989-05-30", "D", "north-am"),   # quoted 2-digit year -> 1900s
    ("31 DEC 99", "1999-12-31", "D", "north-am"),    # bare 2-digit > threshold
    ("1 MAY '45", "1945-05-01", "D", "north-am"),
    ("22 SEPT 2017 0700Z", "2017-09-22", "m", "north-am"),
    ("2017-09-22T07:00-05:00", "2017-09-22", "m", "north-am"),
    ("2017-09-22 14:30:55Z", "2017-09-22", "s", "north-am"),
]


@pytest.mark.parametrize("text,datenorm,res,locale", CASES, ids=[c[0] for c in CASES])
def test_dates(text, datenorm, res, locale):
    m = one(text)
    assert m.attrs["datenorm"] == datenorm
    assert m.attrs["resolution"] == res
    assert m.attrs["locale"] == locale


def test_negatives():
    assert none_found("13/13/2001")      # invalid both ways
    assert none_found("2017-09/22")      # separator mismatch
    assert none_found("9.22.17")         # dotted short-year = version number
    assert none_found("2017-02-30")      # invalid calendar day


def test_quoted_future_year_is_2000s():
    m = one("22 Jun '17")
    assert m.attrs["datenorm"] == "2017-06-22"


def test_epoch_utc_offset():
    m = one("2017-09-22T07:00-05:00")
    # wall clock 07:00 at -05:00 == 12:00Z
    assert m.attrs["epoch"] == 1506081600


def test_euro_locale_configured():
    xtemporal.configure(locale="euro")
    try:
        m = one("03/05/1977")
        assert m.attrs["datenorm"] == "1977-05-03"
        assert m.attrs["locale"] == "euro"
    finally:
        xtemporal.configure(locale="")


def test_published_catalog_examples():
    """The reference's published XTemporal family examples
    (/root/reference/doc/Patterns.md:53-63) all normalize to 2017-09-22."""
    from xponents_spark.extractors.xtemporal import extract_dates
    cases = {
        "Sept 22nd, 2017": ("MDY", "D"),
        "09/22/2017": ("MDY", "D"),
        "22 SEPT 2017 0700Z": ("DMY", "m"),
        "2017-09-22": ("YMD", "D"),
        "2017-09-22T0700-0500": ("DTM", "m"),
    }
    for text, (fam, res) in cases.items():
        ms = [m for m in extract_dates(text) if not m.filtered_out]
        assert ms, text
        assert ms[0].pattern_id.startswith(fam)
        assert ms[0].attrs["datenorm"] == "2017-09-22"
        assert ms[0].attrs["resolution"] == res


def test_date_family_enable_flags():
    """XTemporal match_DateTime/match_DayMonYear analogs: per-family
    enables on extract_dates (XTemporal.html method summary)."""
    from xponents_spark.extractors.xtemporal import extract_dates
    text = "on 09/22/2017 then 2017-09-22T07:00-05:00 end"
    fams = {m.family for m in extract_dates(text) if not m.filtered_out}
    assert fams == {"MDY", "DTM"}
    only_dtm = {m.family for m in extract_dates(text, families=("DTM",))
                if not m.filtered_out}
    assert only_dtm == {"DTM"}


def test_published_date_catalog():
    """The reference's published XTemporal examples (doc/Patterns.md:57-62)
    — the independent (non-fixture-derived) date anchor, like the
    40-example coordinate catalog in test_xcoord_published.py."""
    from xponents_spark.extractors.xtemporal import extract_dates
    published = [
        ("Sept 22nd, 2017",      "2017-09-22", "D"),
        ("09/22/2017",           "2017-09-22", "D"),
        ("22 SEPT 2017 0700Z",   "2017-09-22", "m"),
        ("2017-09-22",           "2017-09-22", "D"),
        ("2017-09-22T0700-0500", "2017-09-22", "m"),
    ]
    for text, norm, res in published:
        ms = [m for m in extract_dates(text) if not m.filtered_out]
        assert len(ms) == 1, text
        assert ms[0].attrs["datenorm"] == norm, text
        assert ms[0].attrs["resolution"] == res, text
    # the Z-suffixed time resolves to the exact UTC instant
    zulu = [m for m in extract_dates("22 SEPT 2017 0700Z")
            if not m.filtered_out][0]
    assert zulu.attrs["timestamp"] == "2017-09-22T07:00:00Z"
    assert zulu.attrs["epoch"] == 1506063600


def test_lowercase_t_dtm_is_found():
    """DTM-02 compiles case-insensitive, so a lowercase ``t`` between date
    and time is a match (a case-sensitive ``\\dT\\d`` gate once hid it)."""
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
    _, rows = extract_turn("logged 20200101t1200z ok", DEFAULT_FEATURES)
    assert [(r["label"], r["pattern_id"], r["matchtext"], r["date_norm"])
            for r in rows] == [("date", "DTM-02", "20200101t1200z",
                                "2020-01-01")]


@pytest.mark.parametrize("text,pid,matched", [
    ("on ſep 5, 2020", "MDY-04", "ſep 5, 2020"),
    ("5 ſep 2020", "DMY-01", "5 ſep 2020"),
])
def test_long_s_month_is_found(text, pid, matched):
    """IGNORECASE matches the long s ``ſ`` to ``S``, so ``ſep`` is a month
    (a ``"sep" in text.lower()`` gate once hid it)."""
    m = one(text)
    assert (m.pattern_id, m.text, m.attrs["datenorm"]) == (
        pid, matched, "2020-09-05")
