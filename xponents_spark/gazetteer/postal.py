"""Postal geocoding (SURVEY.md §2.2 T5, §2.4 F14, §2.5 J6, §2.7 K14).

The reference tags postal codes against a 4M-row COUNTRY+CODE Solr core
(PostalGeocoder.java:25-33) with:

* PostalCodeFilter (rules/PostalCodeFilter.java:1-98): min length 4,
  alphanumeric plus space/dash only, reject year-like codes;
* PostalCodeAssociationRule (rules/PostalCodeAssociationRule.java:1-217):
  ADM1+POSTAL / COUNTRY+POSTAL adjacency with punctuation sanity links the
  geography — postal codes without adjacent geography are dropped at final
  output (F15, XponentsGeotagger.java:207-251);
* a trivial chooser whose confidence derives from match complexity and
  linked geography (rules/PostalLocationChooser.java:1-138).

Here the postal table is an embedded fixture keyed by (cc, code); the
tagger proposes digit/alnum tokens and the association rule against the
already-tagged place/admin candidates validates them.
"""

from __future__ import annotations

import re

from ..functions.geo import geohash_encode
from . import data
from .matcher import PlaceCandidate

# (cc, adm1, code, place name, lat, lon)
POSTAL_ROWS: list[tuple] = [
    ("AU", "NSW", "2019", "Banksmeadow", -33.9667, 151.2167),
    ("AU", "NSW", "2021", "Paddington", -33.8847, 151.2265),
    ("AU", "NSW", "1427", "Strawberry Hills", -33.8910, 151.2120),
    ("AU", "NSW", "2000", "Sydney", -33.8688, 151.2093),
    ("AU", "VIC", "3171", "Springvale", -37.9493, 145.1525),
    ("AU", "VIC", "3166", "Oakleigh", -37.9000, 145.0890),
    ("US", "CA", "92101", "San Diego", 32.7194, -117.1628),
    ("US", "PA", "15213", "Pittsburgh", 40.4435, -79.9536),
    ("US", "NY", "10001", "New York", 40.7506, -73.9972),
    ("US", "OR", "97401", "Eugene", 44.0645, -123.0900),
    ("DE", "16", "10115", "Berlin", 52.5323, 13.3846),
    ("GB", "ENG", "SW1A 1AA", "London", 51.5010, -0.1416),
]

def _build_code_map(rows) -> dict[str, list[tuple]]:
    by_code: dict[str, list[tuple]] = {}
    for r in rows:
        by_code.setdefault(r[2].replace(" ", "").upper(), []).append(tuple(r))
    return by_code


_BY_CODE: dict[str, list[tuple]] | None = _build_code_map(POSTAL_ROWS)
_POSTAL_PATH: str | None = None


def set_postal_parquet(path: str | None) -> None:
    """Scale path for the reference's ~4M COUNTRY+CODE tuples
    (PostalGeocoder.java:25-33): point this worker process at a postal
    parquet with columns (cc, adm1, code, name, lat, lon).  The code map
    builds LAZILY on first postal lookup — a job whose feature set never
    tags postal codes pays nothing even with the env var exported.
    ``None`` resets to the embedded fixture rows (reused python workers
    must not leak a previous job's table).  Idempotent per path."""
    global _POSTAL_PATH, _BY_CODE
    if path == _POSTAL_PATH:
        return
    _POSTAL_PATH = path
    _BY_CODE = _build_code_map(POSTAL_ROWS) if path is None else None


class _MmapCodes:
    """dict-like .get() over the keyed mmap artifact (shared page cache,
    O(1) private heap — the 4M-tuple postal table costs ~1 GB of dict
    heap PER WORKER on the parquet path)."""

    def __init__(self, path: str):
        from .mmapstore import MmapKeyedTable
        self._t = MmapKeyedTable(path)

    def get(self, key: str):
        rows = self._t.get(key)
        return [(cc, adm1, code, name,
                 None if lat is None else float(lat),
                 None if lon is None else float(lon))
                for cc, adm1, code, name, lat, lon in rows] or None


def build_postal_mmap(postal_parquet: str, out_dir: str) -> dict:
    """Compile a postal parquet (cc, adm1, code, name, lat, lon) into the
    keyed mmap artifact; keys are the normalized code (spaces stripped,
    uppercased — the same key tag_postals probes with)."""
    import pyarrow.parquet as pq

    from .mmapstore import build_keyed_mmap
    tbl = pq.read_table(postal_parquet, columns=["cc", "adm1", "code",
                                                 "name", "lat", "lon"])
    cols = [tbl.column(c).to_pylist() for c in ("cc", "adm1", "code",
                                                "name", "lat", "lon")]
    rows = list(zip(*cols))
    keys = [(r[2] or "").replace(" ", "").upper() for r in rows]
    return build_keyed_mmap(out_dir, keys, rows)


def _codes():
    global _BY_CODE
    if _BY_CODE is None:
        from .mmapstore import is_kv_mmap
        if is_kv_mmap(_POSTAL_PATH):
            _BY_CODE = _MmapCodes(_POSTAL_PATH)
        else:
            import pyarrow.parquet as pq
            tbl = pq.read_table(_POSTAL_PATH, columns=["cc", "adm1", "code",
                                                       "name", "lat", "lon"])
            cols = [tbl.column(c).to_pylist() for c in ("cc", "adm1", "code",
                                                        "name", "lat", "lon")]
            _BY_CODE = _build_code_map(zip(*cols))
    return _BY_CODE

# candidate postal tokens: alnum with optional internal space/dash, len>=4
_POSTAL_TOKEN = re.compile(r"(?<![\w-])[A-Z0-9]{3,5}(?:[ -]?[A-Z0-9]{2,4})?(?![\w-])")
_YEAR_LIKE = re.compile(r"^(19|20)\d\d$")


def _passes_filter(code: str) -> bool:
    """PostalCodeFilter: length >= 4, alnum/space/dash only."""
    bare = code.replace(" ", "").replace("-", "")
    return len(bare) >= 4 and bare.isalnum()


def tag_postals(text: str, cands: list[PlaceCandidate],
                country_scope: set[str]) -> list[dict]:
    """Postal matches validated by geography adjacency.

    Association (J6): a code within 10 chars of an ADM1/country candidate of
    the same cc links that geography.  Year-like codes require ADM1
    adjacency (the reference's NSW-2000s collision note,
    src/test/resources/data/postal-addresses.json:1-6); other codes accept
    country scope alone.
    """
    import bisect
    anchors = []
    for c in cands:
        for p in c.places:
            if p.is_admin1 or p.is_country:
                anchors.append((c.start, c.end, p))
        if c.linked_admin is not None:
            anchors.append((c.start, c.merged_end or c.end, c.linked_admin))
    if not anchors and not country_scope:
        return []       # every code would fail the F15 geography test
    # adjacency is <=30 chars, so only anchors in a bisect window around the
    # code can match — the all-anchors scan was quadratic on giant turns
    anchors.sort(key=lambda a: a[0])
    starts = [a[0] for a in anchors]
    max_len = max((e - s for s, e, _p in anchors), default=0)

    def nearby(s0: int, e0: int, pad: int = 30):
        lo = bisect.bisect_left(starts, s0 - pad - max_len)
        hi = bisect.bisect_right(starts, e0 + pad)
        return anchors[lo:hi]

    out = []
    for m in _POSTAL_TOKEN.finditer(text):
        # try the full token (UK 'SW1A 1AA'), then space/dash-split parts
        # ('NSW 2019' -> '2019')
        variants = [(m.group(), m.start(), m.end())]
        if " " in m.group() or "-" in m.group():
            for part in re.finditer(r"[A-Z0-9]+", m.group()):
                variants.append((part.group(),
                                 m.start() + part.start(),
                                 m.start() + part.end()))
        code = s0 = e0 = rows = None
        for cand_code, s_, e_ in variants:
            if not _passes_filter(cand_code):
                continue
            found = _codes().get(cand_code.replace(" ", "").upper())
            if found:
                code, s0, e0, rows = cand_code, s_, e_, found
                break
        if not rows:
            continue
        near = nearby(s0, e0)
        for cc, adm1, raw_code, name, lat, lon in rows:
            adj_admin = any(
                p.is_admin1 and p.cc == cc and p.adm1 == adm1
                and min(abs(s0 - e), abs(s - e0)) <= 10
                for s, e, p in near)
            adj_country = adj_admin or cc in country_scope or any(
                p.is_country and p.cc == cc
                and min(abs(s0 - e), abs(s - e0)) <= 30
                for s, e, p in near)
            if _YEAR_LIKE.match(code) and not adj_admin:
                continue   # 2021 is a year unless 'NSW 2021'-qualified
            if not adj_country:
                continue   # postal-without-geography -> dropped (F15)
            conf = 75 if adj_admin else 50
            out.append({
                "span_start": s0, "span_end": e0,
                "matchtext": code, "label": "postal", "pattern_id": None,
                "filtered_out": False, "confidence": conf,
                "lat": lat, "lon": lon, "prec": 2000,
                "geohash": geohash_encode(lat, lon, 6),
                "cc": cc, "adm1": adm1,
                "adm1_name": data.ADM1_NAMES.get(f"{cc}.{adm1}"),
                "feat_class": "A",
                "feat_code": "POST", "place_id": f"{cc}.{raw_code}",
                "name": name, "method": "PostalAssoc" if adj_admin else "PostalCountry",
            })
            break
    return out
