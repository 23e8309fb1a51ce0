"""XCoord normalization values — the contract table from
/root/reference/doc/XCoord.md:40-95, checked to decimal degrees."""

import pytest

from xponents_spark.extractors import xcoord
from xponents_spark.functions.geo import (
    geohash_encode, haversine_m, ll_to_mgrs, ll_to_utm, mgrs_to_ll, utm_to_ll)


def best(text, family=None):
    ms = [m for m in xcoord.extract_coordinates(text) if not m.filtered_out]
    if family:
        ms = [m for m in ms if m.family == family]
    assert ms, f"no match in {text!r}"
    return ms[0]


CASES = [
    # (text, family, lat, lon)
    ("39.56N, 123.45W", "DD", 39.56, -123.45),
    ("N42.3, W102.4", "DD", 42.3, -102.4),
    ("+42.3°;-102.4°", "DD", 42.3, -102.4),
    ("N42°, W102°", "DD", 42.0, -102.0),
    ("42° N, 102° W", "DD", 42.0, -102.0),
    ("N42, W102", "DD", 42.0, -102.0),
    ("42 18-009N 102 24-003W", "DM", 42.30015, -102.40005),
    ("42-18-009N; 102-24-003W", "DM", 42.30015, -102.40005),
    ("42.18.009N 102.24.003W", "DM", 42.30015, -102.40005),
    ("N4218.009W10224.003", "DM", 42.30015, -102.40005),
    ("4218.009N 10224.003W", "DM", 42.30015, -102.40005),
    ("N4218-0018 W10224-0444", "DM", 42.30003, -102.40074),
    ("4218009N10224003W", "DM", 42.30015, -102.40005),
    ("N4218009W10224003", "DM", 42.30015, -102.40005),
    ("N42 18' W102 24'", "DM", 42.3, -102.4),
    # no hemisphere present -> polarity defaults +1 on both axes
    ("42° 18' 102° 24'", "DM", 42.3, 102.4),
    ("42° 18.44' 102° 24.11'", "DM", 42.307333333, 102.401833333),
    ("42° 18'N 102° 24'W", "DM", 42.3, -102.4),
    ("N4218 W10224", "DM", 42.3, -102.4),
    ("4218N 10224W", "DM", 42.3, -102.4),
    ("/4218N4/10224W5/", "DM", 42.3, -102.4),
    ("42 DEG 18.0N 102 DEG 24.0W", "DM", 42.3, -102.4),
    ("+42 18.0 x -102 24.0", "DM", 42.3, -102.4),
    ("01°44'55.5\"N 101°22'33.0\"E", "DMS", 1.748750, 101.375833333),
    ("N01°44'55.5\" E101°22'33.0\"", "DMS", 1.748750, 101.375833333),
    ("01.44.55N 055.44.33E", "DMS", 1.748611111, 55.742500),
    ("N01.44.55 E055.44.33", "DMS", 1.748611111, 55.742500),
    ("N42 18' 00\" W102 24' 00\"", "DMS", 42.3, -102.4),
    ("421800N 1022400W", "DMS", 42.3, -102.4),
    ("N421800 W1022400", "DMS", 42.3, -102.4),
    ("4218001234N 10224001234W", "DMS", 42.300034277, -102.400034277),
]


@pytest.mark.parametrize("text,family,lat,lon", CASES, ids=[c[0] for c in CASES])
def test_coordinate_values(text, family, lat, lon):
    m = best(text, family)
    assert m.attrs["lat"] == pytest.approx(lat, abs=1e-6)
    assert m.attrs["lon"] == pytest.approx(lon, abs=1e-6)


def test_mgrs_value():
    m = best("38SMB4611036560", "MGRS")
    assert m.attrs["lat"] == pytest.approx(32.8658, abs=0.01)
    assert m.attrs["lon"] == pytest.approx(44.4240, abs=0.01)


def test_utm_value():
    m = best("17N 699990 3333335", "UTM")
    # inverse of forward-conversion
    zone, band, e, n = ll_to_utm(m.attrs["lat"], m.attrs["lon"])
    assert zone == 17 and abs(e - 699990) < 1 and abs(n - 3333335) < 1


def test_mgrs_filters():
    # digit sequences, dates, lowercase, stop terms all filter out
    for text in ["38SMB12345678", "06JAN2017", "38smb4611036560", "30SEC1234"]:
        ms = [m for m in xcoord.extract_coordinates(text, families=["MGRS"])
              if not m.filtered_out]
        assert not ms, text


def test_mixed_case_mgrs_candidate_is_kept_filtered_out():
    """The MGRS rule compiles IGNORECASE, so a mixed-case run such as
    ``4ESs460421`` is a candidate (as in the reference, which scans every
    rule); normalize_mgrs rejects it as lowercase, so no coord row."""
    from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
    text = "grid ref 4ESs460421 was noted"
    ms = xcoord.extract_coordinates(text)
    assert [(m.pattern_id, m.text, m.filtered_out) for m in ms] == [
        ("MGRS-01", "4ESs460421", True)]
    _, rows = extract_turn(text, DEFAULT_FEATURES)
    assert not [r for r in rows if r["label"] == "coord"]


def test_imbalanced_dd_rejected():
    # bare float pair without hemisphere/symbols is NOT a coordinate
    ms = [m for m in xcoord.extract_coordinates("55.60, 80.11") if not m.filtered_out]
    assert not ms


def test_specificity_gate():
    xcoord.configure(min_specificity=xcoord.Specificity.SUBDEG)
    try:
        ms = [m for m in xcoord.extract_coordinates("N42, W102") if not m.filtered_out]
        assert not ms
        ms = [m for m in xcoord.extract_coordinates("N42.3, W102.4") if not m.filtered_out]
        assert ms
    finally:
        xcoord.configure(min_specificity=xcoord.Specificity.DEG)


def test_range_validation():
    for bad in ["N91.5, W102.4", "42.3N; 190.4W"]:
        ms = [m for m in xcoord.extract_coordinates(bad) if not m.filtered_out]
        assert not ms, bad


# --- geodetic kernel ---------------------------------------------------------

def test_utm_roundtrip():
    for lat, lon in [(38.8977, -77.0365), (-33.8688, 151.2093), (1.29, 103.85)]:
        z, b, e, n = ll_to_utm(lat, lon)
        lat2, lon2 = utm_to_ll(z, lat >= 0, e, n)
        assert lat2 == pytest.approx(lat, abs=1e-6)
        assert lon2 == pytest.approx(lon, abs=1e-6)


def test_mgrs_roundtrip():
    import re as _re
    for lat, lon in [(38.8977, -77.0365), (-33.8688, 151.2093), (64.1, -21.9)]:
        s = ll_to_mgrs(lat, lon)
        m = _re.match(r"^(\d{1,2})([C-X])([A-Z]{2})(\d{5})(\d{5})$", s)
        la, lo = mgrs_to_ll(int(m.group(1)), m.group(2), m.group(3),
                            int(m.group(4)), int(m.group(5)))
        assert la == pytest.approx(lat, abs=2e-4)
        assert lo == pytest.approx(lon, abs=2e-4)


def test_geohash_known():
    assert geohash_encode(38.8977, -77.0365, 7) == "dqcjqcp"


def test_haversine():
    d = haversine_m(0, 0, 0, 1)
    assert d == pytest.approx(111195, rel=0.01)


def test_per_family_enable_flags():
    """XCoord match_DD/DM/DMS/MGRS/UTM equivalents (XCoord.html)."""
    text = "at 39.56N, 123.45W or 38SMB4611036560 site"
    both = [m.family for m in xcoord.extract_coordinates(text)
            if not m.filtered_out]
    assert set(both) == {"DD", "MGRS"}
    only_dd = [m.family for m in
               xcoord.extract_coordinates(text, families=("DD",))
               if not m.filtered_out]
    assert set(only_dd) == {"DD"}
    only_mgrs = [m.family for m in
                 xcoord.extract_coordinates(text, families=("MGRS",))
                 if not m.filtered_out]
    assert set(only_mgrs) == {"MGRS"}


def test_strict_mode_drops_integer_degree_dd():
    """setStrictMode (XCoord.html): strict drops the lowest-confidence DD
    form — integer degrees without a degree symbol (DD-07 'N42, W102');
    symboled or sub-degree-resolution DD survives."""
    from xponents_spark.pipeline import extract_turn

    bare = "near N42, W102 junction"               # DD-07: no symbol, int°
    _m, relaxed = extract_turn(bare, ("coordinates",))
    _m, strict = extract_turn(bare, ("coordinates",), strict_coords=True)
    assert [r["label"] for r in relaxed] == ["coord"]
    assert strict == []
    for keeper in ("position 39.56N, 123.45W reported",   # sub-degree res
                   "anchor +42.3°; -102.4° fixed"):      # degree symbols
        _m, out = extract_turn(keeper, ("coordinates",), strict_coords=True)
        assert [r["label"] for r in out] == ["coord"], keeper
