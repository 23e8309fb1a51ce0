"""XTemporal: date/time extraction + normalization (SURVEY.md §2.3 R7-R8).

Behavioral contract follows the reference's DateTimeMatch.normalize()
pipeline (``/root/reference/doc/pydoc/opensextant/extractors/xtemporal.html``
embedded source L34-385):

* 2-digit years: quoted years ``'17`` resolve 2000-era up to a future
  threshold, else 1900-era; bare 2-digit years resolve 1900-era above the
  threshold, else 2000-era.  ``MAXIMUM_YEAR`` caps 4-digit years at 2040.
* MDY-01/02 numeric dates run the euro-locale test: if the first field
  exceeds 12 it must be the day (``30/05/1977`` -> 1977-05-30, locale=euro);
  both fields > 12 invalidates; ambiguous dates default North-American.
* Separator consistency: ``DSEP1 != DSEP2`` invalidates (``2017-09/22``).
* ``.``-separated short numeric dates with 2-digit years are rejected
  (version-number collision).
* Day defaults to 1 (resolution=M) when absent; Feb 30/31 rejected; invalid
  day/month values reject the match.
* Resolution ladder Y/M/D/H/m/s; time slots hh/mm/ss extend it.
* Output attrs: ``datenorm`` (ISO date), ``epoch`` (seconds, UTC),
  ``resolution``, ``locale``, plus ``timestamp``/``tzinfo`` when time parsed.

Determinism: the reference anchors 2-digit-year resolution to *runtime now*
(``NOW = arrow.now()``).  Here the anchor is a pinned job parameter
(default 2026) so outputs are stable across runs — set via
:func:`configure`.
"""

from __future__ import annotations

from calendar import timegm
from datetime import datetime, timedelta

from ..flexpat import PatternMatch, PatternManager, pattern_file, register_normalizer

MILLENNIUM = 2000
MAXIMUM_YEAR = 2040

# Pinned determinism anchor (reference uses wall-clock now; we pin).
_TODAY_YEAR = 2026
_FUTURE_YY_THRESHOLD = (_TODAY_YEAR - MILLENNIUM) + 2
_DEFAULT_LOCALE: str | None = None

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
     "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"])}


def configure(today_year: int | None = None, locale: str | None = None) -> None:
    """Set the year anchor and default locale ('euro' forces DMY reading of
    ambiguous numeric dates, as XTemporal(locale=...) does)."""
    global _TODAY_YEAR, _FUTURE_YY_THRESHOLD, _DEFAULT_LOCALE
    if today_year:
        _TODAY_YEAR = today_year
        _FUTURE_YY_THRESHOLD = (today_year - MILLENNIUM) + 2
    if locale is not None:
        _DEFAULT_LOCALE = locale.lower() or None


def _norm_year(slots: dict) -> int | None:
    year4 = slots.get("YEAR")
    if year4:
        y = int(year4)
        return y if 0 < y < MAXIMUM_YEAR else None
    quoted = False
    raw = slots.get("YY") or slots.get("YEARYY")
    if not raw:
        return None
    if raw.startswith("'"):
        quoted = True
        raw = raw.lstrip("'")
    y = int(raw)
    if len(raw) >= 4:
        return y if y < MAXIMUM_YEAR else None
    if quoted:
        # class-of-'17 style: near-future reads 2000s, else 1900s
        return MILLENNIUM + y if 0 <= y <= _FUTURE_YY_THRESHOLD else 1900 + y
    if _FUTURE_YY_THRESHOLD < y <= 99:
        return 1900 + y
    return MILLENNIUM + y


def _norm_month(slots: dict) -> int | None:
    num = slots.get("DM1") or slots.get("MM") or slots.get("MONTH")
    if num:
        n = int(num)
        if 1 <= n <= 12:
            return n
    name = slots.get("MON_ABBREV") or slots.get("MON_NAME")
    if name:
        return _MONTHS.get(name.strip(".").upper()[:3])
    return None


def _norm_day(slots: dict) -> int | str | None:
    """Returns day int, None (missing -> month resolution), or 'invalid'."""
    raw = slots.get("DM2") or slots.get("DOM") or slots.get("DD")
    if raw is None:
        return None
    d = int(raw)
    return d if 1 <= d <= 31 else "invalid"


def _euro_test(slots: dict) -> tuple[int | None, int | None]:
    """Day/month resolution for ambiguous numeric dates
    (reference test_european_locale, xtemporal.html source L95-126)."""
    if "DM1" not in slots or "DM2" not in slots:
        return None, None
    d, m = int(slots["DM1"]), int(slots["DM2"])
    if _DEFAULT_LOCALE == "euro":
        return (d, m) if (m <= 12 and d <= 31) else (-1, -1)
    if d > 12 and m <= 12:
        return d, m          # unambiguous euro: 30/05/1977
    if d > 12 and m > 12:
        return -1, -1        # 13/13/... invalid for any locale
    return None, None


def _norm_time(slots: dict) -> tuple[int, int, int, str] | None:
    hh, mm, ss = (int(slots[f]) if slots.get(f) is not None else -1
                  for f in ("hh", "mm", "ss"))
    if not 0 <= hh < 24:
        return None
    if not 0 <= mm < 60:
        return None
    if 0 <= ss < 60:
        return hh, mm, ss, "s"
    return hh, mm, 0, "m"


def _norm_tz_minutes(slots: dict) -> int | None:
    tz = slots.get("SHORT_TZ")
    if tz:
        return 0 if tz.upper() in ("Z", "J", "UTC", "GMT") else None
    tz = slots.get("LONG_TZ")
    if tz:
        sign = -1 if tz[0] == "-" else 1
        digits = tz[1:].replace(":", "")
        return sign * (int(digits[:2]) * 60 + int(digits[2:4]))
    return None


def normalize_date(pm: PatternMatch) -> None:
    """FlexPat #CLASS normalizer for families MDY/DMY/YMD/DTM."""
    pm.textnorm = pm.text.strip().lower()
    pm.is_valid = False
    pm.filtered_out = True
    slots = pm.slot_values()
    locale = "north-am"

    year = _norm_year(slots)
    if year is None:
        return

    day = month = None
    is_short_mdy = pm.pattern_id in ("MDY-01", "MDY-02")
    if is_short_mdy:
        day, month = _euro_test(slots)
        if day is not None and day < 0:
            return
        if day and month:
            locale = "euro"

    if not month:
        month = _norm_month(slots)
    if not month:
        return

    sep1, sep2 = slots.get("DSEP1"), slots.get("DSEP2")
    if sep1 and sep2 and sep1 != sep2:
        return
    if sep1 == "." and is_short_mdy:
        raw_year = slots.get("YEAR") or slots.get("YY") or slots.get("YEARYY") or ""
        if len(raw_year.lstrip("'")) == 2:
            return  # a.b.YY reads as a version number

    resolution = "M"
    if day is None:
        day = _norm_day(slots)
    if day == "invalid":
        return
    if day is None:
        day = 1
    else:
        resolution = "D"

    try:
        dt = datetime(year, month, day)
    except ValueError:
        return  # Feb 30 etc.

    tm = _norm_time(slots)
    tz_min = None
    if tm:
        hh, mi, ss, resolution = tm
        dt = dt + timedelta(hours=hh, minutes=mi, seconds=ss)
        tz_min = _norm_tz_minutes(slots)

    epoch = timegm(dt.timetuple())
    if tz_min is not None:
        epoch -= tz_min * 60     # wall-clock with offset -> UTC instant

    pm.attrs = {
        "datenorm": dt.strftime("%Y-%m-%d"),
        "epoch": epoch,
        "resolution": resolution,
        "locale": locale,
    }
    if tm:
        pm.attrs["timestamp"] = dt.strftime("%Y-%m-%dT%H:%M:%S") + _fmt_tz(tz_min)
    pm.is_valid = True
    pm.filtered_out = False


def _fmt_tz(tz_min: int | None) -> str:
    if tz_min is None:
        return ""
    if tz_min == 0:
        return "Z"
    sign = "-" if tz_min < 0 else "+"
    tz_min = abs(tz_min)
    return f"{sign}{tz_min // 60:02d}:{tz_min % 60:02d}"


for _fam in ("MDY", "DMY", "YMD", "DTM"):
    register_normalizer(_fam, normalize_date)

_manager: PatternManager | None = None


def manager() -> PatternManager:
    """Singleton compiled pattern manager (compile once per process; the
    Spark pipeline builds it lazily per executor)."""
    global _manager
    if _manager is None:
        # No per-family prescreens.  PatternManager derives each rule's
        # gate from its compiled regex: every rule here consumes a digit
        # and has a finite longest match, so none runs on a digit-free
        # turn and each scans only the windows around the turn's digit
        # clusters (see flexpat._scan_window).
        _manager = PatternManager(pattern_file("datetime_patterns.cfg"))
    return _manager


def extract_dates(text: str, families=None, ctx=None) -> list[PatternMatch]:
    """``families``: per-family enables — the XTemporal
    match_DateTime/match_DayMonYear toggles (XTemporal.html method summary);
    None = all of MDY/DMY/YMD/DTM."""
    return manager().scan(text, families=families, ctx=ctx)
