"""XCoord: geocoordinate extraction + normalization (SURVEY.md §2.3 R4-R6).

Families DD / DM / DMS / MGRS / UTM per the published catalog
(``/root/reference/doc/XCoord.md:40-95``).  Normalization semantics follow
the reference's Python port (``doc/pydoc/opensextant/extractors/xcoord.html``
embedded source L11-632):

* Hemisphere resolution: first present slot among ``hemi{Axis}``,
  ``hemi{Axis}Sign``, ``hemi{Axis}Pre``; empty -> +1 default.
* DMS->decimal: ``deg + min/60 + sec/3600`` with string-preserving fraction
  handling (``-ddd``/``ddd`` fractions read as ``.ddd``).
* Validity: lat in (-90,90), lon in (-180,180), min/sec in [0,60).
* Specificity ladder DEG..SUBSECOND; a configurable minimum specificity
  filters coarse matches (the reference Python defaults to SUBDEG; we default
  to DEG so every published family example extracts, and expose
  :func:`configure`).
* DM separator consistency (``dmLatSep == dmLonSep``).
* MGRS false-positive filters: lowercase, short, embedded stop terms
  (months/units), digit runs, recent-date collisions
  (reference ``MGRSFilter``, xcoord.html source L386-443).
* Precision in meters derives from specificity + fraction digits
  (PrecisionScales equivalent).

MGRS/UTM conversion uses :mod:`xponents_spark.functions.geo` (pure-python
WGS84; the reference delegates to pygeodesy).
"""

from __future__ import annotations

import re

from ..flexpat import PatternMatch, PatternManager, pattern_file, register_normalizer
from ..functions.geo import band_is_north, geohash_encode, mgrs_to_ll, utm_to_ll
from . import TODAY_YEAR


class Specificity:
    DEG = 1
    SUBDEG = 2
    MINUTE = 3
    SUBMINUTE = 4
    SECOND = 5
    SUBSECOND = 6


_MIN_SPECIFICITY = Specificity.DEG


def configure(min_specificity: int | None = None) -> None:
    """Set the minimum specificity a coordinate needs to be kept.

    This changes a module global of the CALLING Python process only: it
    never reaches the Python workers of a Spark job, which import this
    module afresh and keep the default (``Specificity.DEG``).  Use it for
    in-process extraction (``extract_coordinates``, ``extract_turn``)."""
    global _MIN_SPECIFICITY
    if min_specificity:
        _MIN_SPECIFICITY = min_specificity


_HEMI_SIGN = {"W": -1, "S": -1, "-": -1, "N": 1, "E": 1, "+": 1}
_SYMBOLS = ("°", "º", "'", '"', ":", "lat", "lon", "geo", "coord", "deg")


class _Ordinate:
    """One axis of a coordinate, digested from named slots
    (reference DMSOrdinate, xcoord.html source L135-325)."""

    __slots__ = ("degrees", "minutes", "seconds", "polarity", "hemi_char",
                 "specificity", "frac_digits", "present")

    def __init__(self, axis: str, slots: dict, family: str):
        a = "Lat" if axis == "lat" else "Lon"
        self.degrees = self.minutes = self.seconds = None
        self.specificity = Specificity.DEG
        self.frac_digits = 0
        self.polarity = 1
        self.hemi_char = None
        self.present = False

        # hemisphere: first slot *present in the pattern* wins; unmatched -> +1
        for name in (f"hemi{a}", f"hemi{a}Sign", f"hemi{a}Pre"):
            if name in slots:
                sym = slots[name]
                if sym:
                    self.hemi_char = sym.strip().upper()
                    self.polarity = _HEMI_SIGN.get(self.hemi_char, 1)
                break

        if family == "DMS":
            ms, dm = slots.get(f"ms{a}Sep"), slots.get(f"dm{a}Sep")
            if ms and dm and ms == "." and ms != dm:
                return  # DD MM.ss reads as a DM pattern, not DMS

        deg = _int(slots, f"deg{a}") if slots.get(f"deg{a}") is not None else None
        if deg is None:
            deg = _int(slots, f"dmsDeg{a}")
        dec = _float(slots.get(f"decDeg{a}"))
        if dec is not None:
            self.degrees = dec
            self.specificity = Specificity.SUBDEG
            self.frac_digits = _fdigits(slots.get(f"decDeg{a}"))
        elif deg is not None:
            self.degrees = float(deg)
        else:
            return
        self.present = True

        mn = _int(slots, f"min{a}")
        if mn is None:
            mn = _int(slots, f"dmsMin{a}")
        decmin = _float(slots.get(f"decMin{a}"))
        if decmin is not None:
            self.minutes = decmin
            self.specificity = Specificity.SUBMINUTE if "." in slots[f"decMin{a}"] else Specificity.MINUTE
            self.frac_digits = _fdigits(slots.get(f"decMin{a}"))
        elif mn is not None:
            self.minutes = float(mn)
            self.specificity = Specificity.MINUTE
            frac = slots.get(f"fractMin{a}") or slots.get(f"fractMin{a}3")
            if frac:
                self.minutes += float(f".{frac.lstrip('-')}")
                self.specificity = Specificity.SUBMINUTE
                self.frac_digits = len(frac)
        else:
            return

        sec = _int(slots, f"sec{a}")
        if sec is None:
            sec = _int(slots, f"dmsSec{a}")
        if sec is not None:
            self.seconds = float(sec)
            self.specificity = Specificity.SECOND
            frac = slots.get(f"fractSec{a}") or slots.get(f"fractSec{a}Opt")
            if frac:
                self.seconds += float(f".{frac.lstrip('-')}")
                self.specificity = Specificity.SUBSECOND
                self.frac_digits = len(frac)

    def is_valid(self, axis: str) -> bool:
        if self.degrees is None:
            return False
        limit = 90 if axis == "lat" else 180
        if not -limit < self.polarity * self.degrees < limit:
            return False
        if self.minutes is not None and not 0 <= self.minutes < 60:
            return False
        if self.seconds is not None and not 0 <= self.seconds < 60:
            return False
        return True

    def decimal(self) -> float:
        val = self.degrees
        if self.minutes is not None:
            val += self.minutes / 60.0
            if self.seconds is not None:
                val += self.seconds / 3600.0
        return self.polarity * val


def _int(slots: dict, key: str):
    v = slots.get(key)
    return int(v) if v is not None else None


def _float(v):
    return float(v.replace("-", ".")) if v else None


def _fdigits(v) -> int:
    if v and "." in v:
        return len(v.split(".", 1)[1])
    return 0


def _slots_present(pm: PatternMatch) -> dict:
    """All slot names in the pattern (value may be None when optional group
    did not participate) — presence semantics matter for hemisphere defaults."""
    out: dict = {}
    for name, val, _s, _e in pm.slots:
        if name not in out or out[name] is None:
            out[name] = val
    return out


# precision in meters by specificity (PrecisionScales equivalent)
_PREC_BASE = {Specificity.DEG: 111_000, Specificity.SUBDEG: 111_000,
              Specificity.MINUTE: 1_850, Specificity.SUBMINUTE: 1_850,
              Specificity.SECOND: 31, Specificity.SUBSECOND: 31}


def _precision_m(spec: int, frac_digits: int) -> int:
    base = _PREC_BASE[spec]
    if spec in (Specificity.SUBDEG, Specificity.SUBMINUTE, Specificity.SUBSECOND):
        base = base / (10 ** max(1, frac_digits))
    return max(1, int(base))


def _finish(pm: PatternMatch, lat: float, lon: float, prec: int) -> None:
    pm.attrs = {
        "lat": lat,
        "lon": lon,
        "prec": prec,
        "cce_family": pm.family,
        "geohash": geohash_encode(lat, lon, 6),
    }
    pm.is_valid = True
    pm.filtered_out = False


def _normalize_pair(pm: PatternMatch) -> tuple[_Ordinate, _Ordinate] | None:
    slots = _slots_present(pm)
    lat = _Ordinate("lat", slots, pm.family)
    lon = _Ordinate("lon", slots, pm.family)
    pm.textnorm = pm.text.strip().upper()
    pm.is_valid = False
    pm.filtered_out = True
    if not (lat.is_valid("lat") and lon.is_valid("lon")):
        return None
    return lat, lon


def _meets_resolution(lat: _Ordinate, lon: _Ordinate) -> bool:
    return (lat.specificity >= _MIN_SPECIFICITY
            and lon.specificity >= _MIN_SPECIFICITY)


def normalize_dd(pm: PatternMatch) -> None:
    pair = _normalize_pair(pm)
    if not pair:
        return
    lat, lon = pair
    # DecimalDegMatch.validate: alpha hemis on both axes OR coord symbols,
    # plus resolution gate (xcoord.html source L602-625).
    tl = pm.text.lower()
    valid_hemi = (lat.hemi_char or "") in "NS" and lat.hemi_char and \
                 (lon.hemi_char or "") in "EW" and lon.hemi_char
    has_sign = lat.hemi_char in ("+", "-") or lon.hemi_char in ("+", "-")
    valid_sym = any(s in tl for s in _SYMBOLS)
    if not (valid_hemi or has_sign or valid_sym):
        return
    if not _meets_resolution(lat, lon):
        return
    _finish(pm, lat.decimal(), lon.decimal(),
            _precision_m(min(lat.specificity, lon.specificity),
                         min(lat.frac_digits, lon.frac_digits) or max(lat.frac_digits, lon.frac_digits)))
    # XCoord setStrictMode gate (XCoord.html): strict mode drops the
    # lowest-confidence DD form — integer degrees with no degree symbol
    # (DD-07 'N42, W102'; everything else carries a symbol or sub-degree
    # resolution).  Recorded as an attr so the pipeline can apply the
    # caller's mode without re-running normalization.
    pm.attrs["strict_ok"] = bool(
        valid_sym or lat.frac_digits > 0 or lon.frac_digits > 0)


def normalize_dm(pm: PatternMatch) -> None:
    pair = _normalize_pair(pm)
    if not pair:
        return
    lat, lon = pair
    slots = _slots_present(pm)
    sep1 = (slots.get("dmLatSep") or "").strip()
    sep2 = (slots.get("dmLonSep") or "").strip()
    if (sep1 or sep2) and sep1 != sep2:
        return  # DegMinMatch.validate: separators must agree
    if not _meets_resolution(lat, lon):
        return
    _finish(pm, lat.decimal(), lon.decimal(),
            _precision_m(min(lat.specificity, lon.specificity),
                         min(lat.frac_digits, lon.frac_digits)))


_DMS_DATE = re.compile(r"^\d\d-\d\d-\d\d \d\d:\d\d:\d\d$")


def normalize_dms(pm: PatternMatch) -> None:
    pair = _normalize_pair(pm)
    if not pair:
        return
    lat, lon = pair
    if not _meets_resolution(lat, lon):
        return
    if not pm.text[0].isalpha() and _DMS_DATE.match(pm.text.strip()):
        return  # DMSFilter date collision
    _finish(pm, lat.decimal(), lon.decimal(),
            _precision_m(min(lat.specificity, lon.specificity),
                         min(lat.frac_digits, lon.frac_digits)))


_MGRS_STOP = ("PER", "SEC", "UTC", "GMT", "GAL", "USC", "CAN",
              "JAN", "FEB", "MAR", "APR", "MAY", "JUN",
              "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
_MGRS_SEQ = ("1234", "123456", "12345678", "1234567890")
_MGRS_DATES = (
    re.compile(r"^(\d{1,2})[A-Z]{3}(\d{2,4})"),   # DDMMMYY[YY]
    re.compile(r"^(\d{2})[A-Z]{3}(\d{4})"),       # HHZZZYYYY
)


def _mgrs_filtered(textnorm: str) -> str | None:
    """Reference MGRSFilter.filter_out (xcoord.html source L399-437)."""
    for term in _MGRS_STOP:
        if term in textnorm:
            return "measure"
    for seq in _MGRS_SEQ:
        if seq in textnorm:
            return "digit-seq"
    for rx in _MGRS_DATES:
        m = rx.match(textnorm)
        if m:
            try:
                year = int(m.group(2))
                if year < 100:
                    year += 2000 if year <= (TODAY_YEAR - 2000 + 2) else 1900
                if abs(year - TODAY_YEAR) <= 30:
                    return "date"
            except ValueError:
                pass
    return None


def normalize_mgrs(pm: PatternMatch) -> None:
    pm.textnorm = pm.text.strip().upper().replace(" ", "")
    pm.is_valid = False
    pm.filtered_out = True
    raw = pm.text.strip()
    if not (raw == raw.upper() and len(raw.replace(" ", "")) > 6):
        return  # lowercase or too short
    if "\t" in raw or "\n" in raw:
        return
    if _mgrs_filtered(pm.textnorm):
        return
    slots = pm.slot_values()
    zone_band = slots.get("MGRSZone", "")
    quad = slots.get("MGRSQuad", "")
    en = slots.get("Easting_Northing", "")
    if " " in en:
        e_str, n_str = en.split(" ", 1)
        width = min(len(e_str), len(n_str))
        e_str, n_str = e_str[:width], n_str[:width]
    elif len(en) % 2 == 0:
        width = len(en) // 2
        e_str, n_str = en[:width], en[width:]
    else:
        return
    if not e_str:
        return
    try:
        zone_band = zone_band.replace(" ", "")
        zone = int(zone_band[:-1])
        band = zone_band[-1].upper()
        scale = 10 ** (5 - width)
        lat, lon = mgrs_to_ll(zone, band, quad.upper(),
                              int(e_str) * scale, int(n_str) * scale)
    except (ValueError, IndexError):
        return
    if not (-90 < lat < 90 and -180 < lon < 180):
        return
    _finish(pm, lat, lon, max(1, 10 ** (5 - width)))


def normalize_utm(pm: PatternMatch) -> None:
    pm.textnorm = pm.text.strip().upper()
    pm.is_valid = False
    pm.filtered_out = True
    slots = pm.slot_values()
    try:
        zone = int(slots["UTMZone"])
        band = slots["UTMBand"].upper()
        easting = int(slots["UTMEasting"])
        northing = int(slots["UTMNorthing"])
    except (KeyError, ValueError):
        return
    if not 1 <= zone <= 60:
        return
    lat, lon = utm_to_ll(zone, band_is_north(band), easting, northing)
    if not (-90 < lat < 90 and -180 < lon < 180):
        return
    _finish(pm, lat, lon, 1)


register_normalizer("DD", normalize_dd)
register_normalizer("DM", normalize_dm)
register_normalizer("DMS", normalize_dms)
register_normalizer("MGRS", normalize_mgrs)
register_normalizer("UTM", normalize_utm)

_manager: PatternManager | None = None


def manager() -> PatternManager:
    global _manager
    if _manager is None:
        # No per-family prescreens.  PatternManager derives each rule's
        # gate from its compiled regex: every rule here consumes a
        # digit, so none runs on a digit-free turn, and every rule but
        # DD-04 (the unbounded LAT[A-Z]* keyword, which scans the whole
        # turn) has a finite longest match, so it scans only the windows
        # around the turn's digit clusters: from first digit - width to
        # last digit + reach (see flexpat._scan_window).
        _manager = PatternManager(pattern_file("geocoord_patterns.cfg"))
    return _manager


def extract_coordinates(text: str, families=None, ctx=None) -> list[PatternMatch]:
    return manager().scan(text, families=families, ctx=ctx)
