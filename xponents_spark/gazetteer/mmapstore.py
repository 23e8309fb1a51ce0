"""Compiled reference-table artifacts — the one index layout every
gazetteer, taxcat and postal table is served from.

Why this layout: a python dict of phrase keys built PER WORKER PROCESS
costs ~563 B/name end-to-end (measured at 1.2M names) — linear
extrapolation to the reference's 25M names (solr/README.md:164-166) is
~14 GB per worker, ~450 GB per 32-worker node (SCALE.md).  The reference
shares ONE ~3 GB Solr FST per node across all mappers
(Examples/MapReduce/README.md).  This module is the Spark-native
equivalent of that sharing: a table compiles offline into a flat, binary,
mmap-able artifact; every executor python worker maps the same files, so
the OS page cache holds ONE copy per node no matter how many workers tag
against it.  Per-worker private heap is O(1) — a few hundred bytes of
open-file state plus bounded memos.

Each compiler is a rows -> named-buffers core (``compile_gazetteer``,
``compile_taxcat``, ``compile_keyed``) plus one writer
(``write_artifact``, one file per buffer).  The file route reads a
parquet, runs the core and writes; the embedded rows run the same core
in memory, once per process (``tables.embedded``), and every opener takes
either an artifact directory or those buffers.

Artifact layout (directory)::

    meta.json         format + normalization_version + counts (the version
                      is copied from the tagger parquet sidecar; opening
                      refuses a mismatch)
    phrases.bin       UTF-8 phrase keys, bytewise-sorted, concatenated
    phrase_off.npy    uint64[P+1] offsets into phrases.bin
    row_bounds.npy    uint64[P+1] phrase k -> payload rows [b[k], b[k+1])
    prefix2.npy       uint64[65537] first-two-byte bucket table: bucket c
                      covers phrase indices [T[c], T[c+1]) — shrinks every
                      top-level binary search from log2(P) to ~log2(P/65536)
    rows.bin          payload string fields per row, 0x1F-separated
    row_off.npy       uint64[R+1] offsets into rows.bin
    lat.npy/lon.npy   float64[R] (NaN = no coordinate)
    id_bias.npy       int32[R]
    pop.npy           int64[R]
    grid_cells.npy    int64[C] sorted distinct 0.5-degree cell codes over
    grid_bounds.npy   uint64[C+1]   the located P/A reverse-geocode subset,
    grid_rows.npy     uint64[...]   one row per place_id (row indices
                                    grouped by cell)

Lookup is incremental longest-match over the sorted phrase array: for each
token, binary-search the exact token and the ``token + ' '`` prefix range,
then extend one token at a time while the prefix range stays non-empty —
every exact hit along the way is recorded, all phrase lengths at every
position (LONGEST_DOMINANT_RIGHT resolves overlaps afterwards).
UTF-8 byte order equals code-point order, so the build's string sort and
byte compares at query time agree.

Scale notes (100 TB design):
* the artifact ships like the reference's Solr index: build once in ETL,
  distribute to each node (spark-submit --files / a node-local fetch), mmap
  everywhere.  Queries touch O(log P) pages per token; the hot upper levels
  of the implicit search tree stay resident in page cache.
* build materializes the sorted columns and the buffers in one process
  (~200 B/row transient); for gazetteers beyond ~100M rows, build per
  first-byte shard and concatenate — the file format is
  concatenation-friendly.

Reference parity anchors: FST tagger semantics GazetteerMatcher.java:151-163,
tag limit SolrMatcherSupport.java:46,186-195, reverse geocode
PlaceGeocoder.java:874-978 / SolrGazetteer.java:131-159.
"""

from __future__ import annotations

import json
import math
import mmap
import os
from itertools import accumulate
from itertools import compress as _compress
from operator import itemgetter

import numpy as np

from ..functions.geo import EARTH_RADIUS_M, haversine_m
from . import matcher
from .matcher import (Place, TagLimitExceeded, Tokens,
                      _longest_dominant_right, token_view)
from .spatial import _CELL_DEG, _wrap, cells_near

_STR_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
             "cc", "adm1"]
_SEP = "\x1f"
_NULL = "\x00"     # NULL sentinel in rows.bin (distinct from '')
_FORMAT = "xponents-mmap-1"
_TAX_FORMAT = "xponents-taxmmap-1"
_KV_FORMAT = "xponents-kvmmap-1"
_CELL_MUL = 1_000_003
# Bound of every per-worker memo below (phrase payloads, first-token
# probes, dead tokens, grid cells): past it a memo is cleared whole, which
# caps worker memory growth (~200k token entries ≈ 20-30 MB private).  It
# counts entries (grid: rows), not bytes, so a dense grid region can
# outgrow it (SCALE.md).
_MEMO_MAX = 200_000


def _norm_version(parquet_dir: str, build: str) -> int:
    """The normalization version in a parquet's ``_normalization.json``
    sidecar (written by ``build``)."""
    meta_path = os.path.join(parquet_dir, "_normalization.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{parquet_dir} has no _normalization.json "
                         f"sidecar — build with {build}")
    with open(meta_path) as fh:
        return json.load(fh)["normalization_version"]


def write_artifact(out_dir: str, bufs: dict) -> dict:
    """Write a compiled artifact's named buffers to ``out_dir``, one file
    each (``.npy`` buffers via ``np.save``), ``meta.json`` last: a job's
    tables read its stamp.  Returns the meta."""
    os.makedirs(out_dir, exist_ok=True)
    for name, buf in bufs.items():
        path = os.path.join(out_dir, name)
        if name.endswith(".npy"):
            np.save(path, buf)
        elif name != "meta.json":
            with open(path, "wb") as fh:
                fh.write(buf)
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(bufs["meta.json"], fh)
    return bufs["meta.json"]


def _offsets(parts) -> np.ndarray:
    """uint64[len(parts)+1] start offsets of ``parts`` concatenated."""
    return np.fromiter(accumulate(map(len, parts), initial=0),
                       dtype=np.uint64)


def _records(rows) -> tuple[bytes, np.ndarray]:
    """Payload rows -> (their 0x1F-joined UTF-8 records concatenated, the
    records' offsets).  NUL encodes None: NULL and '' stay distinct, and
    NUL cannot appear in real field text."""
    recs = [_SEP.join(_NULL if v is None else str(v).replace(_SEP, " ")
                      for v in r).encode("utf-8") for r in rows]
    return b"".join(recs), _offsets(recs)


def _key_table(keys: list[str]) -> tuple[list[bytes], np.ndarray]:
    """Sorted row keys -> the distinct keys as UTF-8 and each distinct
    key's row range ``[b[k], b[k+1])``."""
    parts: list[bytes] = []
    bounds = []
    prev = None
    for i, k in enumerate(keys):
        if k != prev:
            bounds.append(i)
            parts.append(k.encode("utf-8"))
            prev = k
    bounds.append(len(keys))
    return parts, np.asarray(bounds, dtype=np.uint64)


def _phrase_table(phrases: list[str]) -> dict:
    """The phrase table of an artifact whose payload row i has the sorted
    key ``phrases[i]``: distinct keys (phrases.bin, phrase_off.npy), each
    key's row range (row_bounds.npy) and the 2-byte bucket table over the
    keys (prefix2.npy)."""
    parts, bounds = _key_table(phrases)
    code = np.array([k[0] << 8 | (k[1] if len(k) > 1 else 0) for k in parts],
                    dtype=np.int64)
    table = np.append(np.searchsorted(code, np.arange(65536)), len(parts))
    return {"phrases.bin": b"".join(parts), "phrase_off.npy": _offsets(parts),
            "row_bounds.npy": bounds, "prefix2.npy": table.astype(np.uint64)}


def compile_gazetteer(cols: dict, norm_ver: int) -> dict:
    """Gazetteer rows -> the artifact's named buffers, in memory.  ``cols``
    maps each ``Place`` field and ``phrase`` (the name normalized by
    ``matcher.phrase_key``) to a column in table order; rows with an empty
    phrase are dropped.  ``tables.embedded`` compiles the embedded rows
    with it, ``build_mmap_artifact`` a tagger parquet."""
    phrase = cols["phrase"]
    table_order = [i for i, p in enumerate(phrase) if p]
    # codepoint order == UTF-8 byte order; the sort is stable, so a
    # phrase's payload rows keep table order
    order = sorted(table_order, key=phrase.__getitem__)
    idx = np.asarray(order, dtype=np.intp)
    bufs = _phrase_table([phrase[i] for i in order])
    str_cols = [cols[c] for c in _STR_COLS]
    bufs["rows.bin"], bufs["row_off.npy"] = _records(
        [col[i] for col in str_cols] for i in order)
    lat, lon, bias, pop = (np.asarray(cols[c], dtype=np.float64)
                           for c in ("lat", "lon", "id_bias", "pop"))
    bufs["lat.npy"], bufs["lon.npy"] = lat[idx], lon[idx]
    bufs["id_bias.npy"] = np.nan_to_num(bias[idx]).astype(np.int32)
    bufs["pop.npy"] = np.nan_to_num(pop[idx]).astype(np.int64)

    # reverse-geocode grid: located P/A rows with a country, no country
    # centroids (not meaningful nearest-place anchors), one row per
    # place_id, the first the table lists
    row_of = np.empty(len(phrase), dtype=np.int64)
    row_of[idx] = np.arange(len(idx))
    pid, fclass, fcode, cc = (cols[c] for c in ("place_id", "feat_class",
                                                "feat_code", "cc"))
    seen: set[str] = set()
    grid = []
    for i in table_order:
        if (pid[i] in seen or fclass[i] not in ("P", "A") or not cc[i]
                or str(fcode[i]).startswith("PCL")
                or not (math.isfinite(lat[i]) and math.isfinite(lon[i]))):
            continue
        seen.add(pid[i])
        grid.append(row_of[i])
    grid = np.asarray(grid, dtype=np.int64)
    lat, lon = bufs["lat.npy"][grid], bufs["lon.npy"][grid]
    cell = (np.floor(lat / _CELL_DEG).astype(np.int64) * _CELL_MUL
            + _wrap(np.floor(lon / _CELL_DEG).astype(np.int64)))
    o = np.lexsort((grid, cell))                 # by cell, then row
    uniq, ustart = np.unique(cell[o], return_index=True)
    bufs["grid_cells.npy"] = uniq.astype(np.int64)
    bufs["grid_bounds.npy"] = np.append(ustart, len(grid)).astype(np.uint64)
    bufs["grid_rows.npy"] = grid[o].astype(np.uint64)
    bufs["meta.json"] = {"format": _FORMAT, "normalization_version": norm_ver,
                         "n_phrases": len(bufs["phrase_off.npy"]) - 1,
                         "n_rows": len(order), "n_grid_rows": len(grid)}
    return bufs


def build_mmap_artifact(tagger_parquet: str, out_dir: str) -> dict:
    """Compile a tagger parquet (``build_tagger_parquet`` output) into the
    mmap artifact.  One-off ETL step, pure pyarrow/numpy — the analog of
    the reference's Solr index build (solr/build.sh).  Returns counts."""
    import pyarrow.parquet as pq

    norm_ver = _norm_version(tagger_parquet, "build_tagger_parquet")
    tbl = pq.read_table(tagger_parquet,
                        columns=_STR_COLS + ["lat", "lon", "id_bias", "pop",
                                             "phrase"])
    cols = {c: tbl.column(c).to_pylist() for c in _STR_COLS + ["phrase"]}
    cols.update({c: tbl.column(c).to_numpy(zero_copy_only=False)
                 for c in ("lat", "lon", "id_bias", "pop")})
    return write_artifact(out_dir, compile_gazetteer(cols, norm_ver))


def _bisect(buf, off, key: bytes, lo: int, hi: int) -> int:
    """First k in [lo, hi) whose key ``buf[off[k]:off[k+1]]`` of a sorted
    key table is not below ``key``."""
    while lo < hi:
        mid = (lo + hi) >> 1
        if buf[int(off[mid]):int(off[mid + 1])] < key:
            lo = mid + 1
        else:
            hi = mid
    return lo


def _buffer(source: str | dict, name: str):
    """Buffer ``name`` of an artifact: one of the named buffers a compile
    returned, or the file in the artifact directory ``source`` mapped
    read-only (``.npy`` as a plain ndarray view of its memmap, which
    skips ``np.memmap``'s Python-level indexing).  An empty file, which
    cannot be mapped, reads as ``b""``."""
    if isinstance(source, dict):
        return source[name]
    path = os.path.join(source, name)
    if name.endswith(".npy"):
        return np.load(path, mmap_mode="r").view(np.ndarray)
    with open(path, "rb") as fh:           # the map holds its own descriptor
        if not os.fstat(fh.fileno()).st_size:
            return b""
        return mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)


def _close(*bufs) -> None:
    """Unmap the byte buffers that are file maps."""
    for b in bufs:
        if isinstance(b, mmap.mmap):
            b.close()


def _read_meta(source: str | dict, fmt: str, what: str, build: str) -> dict:
    """The artifact's meta.json.  A directory that is not a ``fmt``
    artifact — a plain parquet directory, say — is refused with the
    compile step that makes one."""
    if isinstance(source, dict):
        meta = source.get("meta.json")
    else:
        try:
            with open(os.path.join(source, "meta.json")) as fh:
                meta = json.load(fh)
        except (OSError, ValueError):
            meta = {}
    if not isinstance(meta, dict) or meta.get("format") != fmt:
        raise ValueError(f"{source} is not a compiled {what} artifact — "
                         f"compile it with {build}")
    return meta


class _PhraseFiles:
    """Open state of a phrase-table artifact: sorted phrase keys, their
    2-byte prefix buckets and the payload rows.  Opening refuses another
    format and another normalization version."""

    FORMAT, WHAT, BUILD = (_TAX_FORMAT, "taxcat",
                           "mmapstore.build_taxcat_mmap")

    def __init__(self, source: str | dict):
        meta = _read_meta(source, self.FORMAT, self.WHAT, self.BUILD)
        if meta.get("normalization_version") != matcher.NORMALIZATION_VERSION:
            raise ValueError(
                f"{self.WHAT} artifact {source} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{matcher.NORMALIZATION_VERSION} — rebuild with "
                f"{self.BUILD}")
        self.meta = meta
        self.pbuf = _buffer(source, "phrases.bin")
        self.poff = _buffer(source, "phrase_off.npy")
        self.row_bounds = _buffer(source, "row_bounds.npy")
        self.prefix2 = _buffer(source, "prefix2.npy")
        self.rbuf = _buffer(source, "rows.bin")
        self.roff = _buffer(source, "row_off.npy")

    def close(self) -> None:
        """Unmap the byte tables (the ``.npy`` maps go with their last
        reference)."""
        _close(self.pbuf, self.rbuf)

    def record(self, row: int) -> list[str | None]:
        """Payload row ``row``'s string fields (NUL decodes to None)."""
        return [None if f == _NULL else f
                for f in self.rbuf[int(self.roff[row]):
                                   int(self.roff[row + 1])]
                .decode("utf-8").split(_SEP)]


class _MmapFiles(_PhraseFiles):
    """The gazetteer artifact: the phrase table plus typed coordinate and
    rank columns and the reverse-geocode grid."""

    FORMAT, WHAT, BUILD = (_FORMAT, "gazetteer",
                           "mmapstore.build_mmap_artifact")

    def __init__(self, source: str | dict):
        super().__init__(source)
        self.lat = _buffer(source, "lat.npy")
        self.lon = _buffer(source, "lon.npy")
        self.id_bias = _buffer(source, "id_bias.npy")
        self.pop = _buffer(source, "pop.npy")
        self.grid_cells = _buffer(source, "grid_cells.npy")
        self.grid_bounds = _buffer(source, "grid_bounds.npy")
        self.grid_rows = _buffer(source, "grid_rows.npy")

    def place(self, row: int) -> Place:
        rec = self.record(row)
        lat = float(self.lat[row])
        lon = float(self.lon[row])
        return Place(*rec,
                     lat=None if math.isnan(lat) else lat,
                     lon=None if math.isnan(lon) else lon,
                     id_bias=int(self.id_bias[row]),
                     pop=int(self.pop[row]))


class MmapGazetteerIndex:
    """Phrase tagger over a gazetteer artifact: ``scan`` returns the
    LDR-resolved ``(start, end, matchtext, places)`` tuples.  ``source``
    is an artifact directory, the named buffers a compile returned, or
    either already open (``tables`` shares one set with the
    reverse-geocode grid)."""

    FILES = _MmapFiles

    def __init__(self, source: str | dict | _PhraseFiles):
        self.f = (source if isinstance(source, _PhraseFiles)
                  else self.FILES(source))
        self._memo: dict[int, list[Place]] = {}
        # first-token probe memo: text vocabularies are Zipf-distributed,
        # so most tokens repeat constantly and most MISS the dictionary —
        # caching (exact-hit phrase idx, extension range) per token turns
        # the dominant top-level binary search into one dict hit.  Bounded
        # by _MEMO_MAX, still ~100x under a per-worker phrase dict's
        # footprint at 10M names.
        self._tok_memo: dict[str, tuple[int, int, int]] = {}
        # tokens known to start no phrase: the scan's first-token gate
        self._dead: set[str] = set()

    def _phrase(self, k: int) -> bytes:
        return self.f.pbuf[int(self.f.poff[k]):int(self.f.poff[k + 1])]

    def _places(self, k: int) -> list:
        """Phrase ``k``'s payloads, memoized."""
        hit = self._memo.get(k)
        if hit is None:
            if len(self._memo) > _MEMO_MAX:
                self._memo.clear()
            hit = self._memo[k] = self._hydrate(
                int(self.f.row_bounds[k]), int(self.f.row_bounds[k + 1]))
        return hit

    def _hydrate(self, b0: int, b1: int) -> list[Place]:
        if b1 - b0 > matcher.CANDIDATE_CAP:
            # O6 candidate cap — selected from the mmap'd id_bias array
            # alone, so a pathological 10^5-row phrase never hydrates
            # beyond the cap (stable argsort: bias ties keep artifact
            # order)
            bias = np.asarray(self.f.id_bias[b0:b1])
            keep = np.sort(np.argsort(-bias, kind="stable")
                           [:matcher.CANDIDATE_CAP])
            return sorted((self.f.place(b0 + int(i)) for i in keep),
                          key=lambda p: -p.id_bias)
        return [self.f.place(r) for r in range(b0, b1)]

    def _probe(self, norm: str) -> tuple[int, int, int]:
        """(exact-hit phrase index or -1, [lo, hi) range of the phrases
        extending ``norm``) for one token, memoized."""
        memo = self._tok_memo
        ent = memo.get(norm)
        if ent is None:
            key = norm.encode("utf-8")
            f = self.f
            T = f.prefix2
            if not key:
                lo = hi = 0
            elif len(key) >= 2:
                c = (key[0] << 8) | key[1]
                lo, hi = int(T[c]), int(T[c + 1])
            else:   # 1-byte token: cover the whole first-byte band
                lo, hi = int(T[key[0] << 8]), int(T[(key[0] + 1) << 8])
            if lo >= hi:
                ent = (-1, 0, 0)
            else:
                k = _bisect(f.pbuf, f.poff, key, lo, hi)
                exact = k if k < hi and self._phrase(k) == key else -1
                pref = key + b" "
                lo2 = _bisect(f.pbuf, f.poff, pref, k, hi)
                ent = (exact, lo2,
                       _bisect(f.pbuf, f.poff, pref + b"\xff", lo2, hi))
            if len(memo) > _MEMO_MAX:
                memo.clear()
            memo[norm] = ent
        return ent

    def scan(self, text: str, toks: Tokens = None
             ) -> list[tuple[int, int, str, list]]:
        view = token_view(text, toks)
        # first-token gate: tokens already known to start no phrase drop
        # out in one C-level set difference, the rest are probed once, and
        # the turn returns at once when none of its tokens starts a phrase
        dead = self._dead
        if len(dead) > _MEMO_MAX:
            dead.clear()
        firsts = set()
        for norm in view.vocab - dead:
            exact, lo2, hi2 = self._probe(norm)
            if exact >= 0 or lo2 < hi2:
                firsts.add(norm)
            else:
                dead.add(norm)
        if not firsts:
            return []
        norms = view.norms
        pbuf, poff = self.f.pbuf, self.f.poff
        spans = None            # offsets are read only once a phrase hits
        n = len(norms)
        raw: list[tuple[int, int, int]] = []
        limit = matcher.TAG_LIMIT
        for i in _compress(range(n), map(firsts.__contains__, norms)):
            norm = norms[i]
            exact, lo2, hi2 = self._probe(norm)
            if exact >= 0:
                if spans is None:
                    spans = view.spans
                raw.append((spans[i][0], spans[i][1], exact))
                if len(raw) > limit:
                    raise TagLimitExceeded(
                        f"tag limit {limit} exceeded in one document")
            pref = norm.encode("utf-8") + b" "
            j = i + 1
            while lo2 < hi2 and j < n:
                cur = pref + norms[j].encode("utf-8")
                k2 = _bisect(pbuf, poff, cur, lo2, hi2)
                if k2 < hi2 and self._phrase(k2) == cur:
                    if spans is None:
                        spans = view.spans
                    raw.append((spans[i][0], spans[j][1], k2))
                    if len(raw) > limit:
                        raise TagLimitExceeded(
                            f"tag limit {limit} exceeded in one document")
                pref = cur + b" "
                lo2 = _bisect(pbuf, poff, pref, k2, hi2)
                hi2 = _bisect(pbuf, poff, pref + b"\xff", lo2, hi2)
                j += 1
        resolved = _longest_dominant_right(raw)
        # hydrate AFTER overlap resolution: losers cost nothing
        return [(s, e, text[s:e], self._places(k)) for s, e, k in resolved]


class MmapSpatialIndex:
    """Reverse-geocode grid over a gazetteer artifact.  A cell's rows
    (lat, lon and row arrays; for a cell of at most ``SMALL`` rows also
    as (lat, lon, row) tuples) are read from the artifact on first touch,
    a row's ``Place`` when it first ranks; both are memoized, bounded like
    the phrase memos.  A probe with at most ``SMALL`` candidates measures
    them one by one with ``haversine_m``; a denser one (a city's cells at
    gazetteer scale) measures them in one numpy pass of the same formula.
    Only the nearest candidates are hydrated and ranked."""

    SMALL = 64          # candidates up to which a probe stays in Python

    def __init__(self, source: str | dict | _MmapFiles):
        self.f = (source if isinstance(source, _MmapFiles)
                  else _MmapFiles(source))
        self._cells: dict[tuple[int, int], tuple] = {}
        self._places: dict[int, Place] = {}
        self._memo_rows = 0

    def _read_cell(self, cell: tuple[int, int]) -> tuple:
        if self._memo_rows > _MEMO_MAX:
            self._cells.clear()
            self._places.clear()
            self._memo_rows = 0
        f = self.f
        code = cell[0] * _CELL_MUL + cell[1]
        p = int(np.searchsorted(f.grid_cells, code))
        b0 = b1 = 0
        if p < len(f.grid_cells) and int(f.grid_cells[p]) == code:
            b0, b1 = int(f.grid_bounds[p]), int(f.grid_bounds[p + 1])
        rows = f.grid_rows[b0:b1].astype(np.int64)
        lat, lon = f.lat[rows], f.lon[rows]
        small = (list(zip(lat.tolist(), lon.tolist(), rows.tolist()))
                 if len(rows) <= self.SMALL else None)
        hit = self._cells[cell] = (len(rows), small, lat, lon, rows)
        self._memo_rows += len(rows) + 1
        return hit

    def places_at(self, lat: float, lon: float, radius_km: float = 50,
                  limit: int = 5) -> list[tuple[float, Place]]:
        """Nearest places within radius, ascending (distance, place_id),
        one entry per place_id, capped at ``limit`` (the reference's
        max=5 nearby places)."""
        reach = radius_km * 1000
        cells = self._cells
        hits = []
        for cell in cells_near(lat, lon, radius_km):
            hit = cells.get(cell)
            if hit is None:
                hit = self._read_cell(cell)
            if hit[0]:
                hits.append(hit)
        if sum(h[0] for h in hits) <= self.SMALL:
            near = sorted(
                (d, row) for h in hits for plat, plon, row in h[1]
                if (d := haversine_m(lat, lon, plat, plon)) <= reach)
        else:
            la = np.radians(np.concatenate([h[2] for h in hits]))
            dl = np.radians(np.concatenate([h[3] for h in hits]) - lon)
            p1 = math.radians(lat)
            a = (np.sin((la - p1) / 2) ** 2
                 + math.cos(p1) * np.cos(la) * np.sin(dl / 2) ** 2)
            d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
            rows = np.concatenate([h[4] for h in hits])
            ok = np.flatnonzero(d <= reach)
            ok = ok[np.argsort(d[ok], kind="stable")]
            near = zip(d[ok].tolist(), rows[ok].tolist())
        # the candidates that can rank: nearest first, through every tie
        # with the last one needed for ``limit`` distinct places
        ranked: list[tuple] = []
        pids: set[str] = set()
        places = self._places
        for d, row in near:
            if len(pids) >= limit and d > ranked[-1][0]:
                break
            p = places.get(row)
            if p is None:
                p = places[row] = self.f.place(row)
            ranked.append((d, p.place_id, row, p))
            pids.add(p.place_id)
        ranked.sort(key=lambda t: t[:3])
        out: list[tuple[float, Place]] = []
        pids.clear()
        for d, pid, _row, p in ranked:
            if pid not in pids:       # an artifact may list a place twice
                pids.add(pid)
                out.append((d, p))
                if len(out) >= limit:
                    break
        return out


# --- taxcat mmap artifact (T4 shared-memory path) ----------------------------


def compile_taxcat(rows, norm_ver: int) -> dict:
    """Taxon rows ``(phrase, kind, canonical, cc)`` in table order -> the
    taxcat artifact's named buffers, in memory: the gazetteer artifact's
    sorted-phrase table and 2-byte prefix buckets, payload rows
    (kind, canonical, cc).  Rows with an empty phrase are dropped; cc ''
    reads as None, as in the embedded lexicons."""
    rows = sorted(((p, k, cn, cc or None) for p, k, cn, cc in rows if p),
                  key=itemgetter(0))
    bufs = _phrase_table([r[0] for r in rows])
    bufs["rows.bin"], bufs["row_off.npy"] = _records(r[1:] for r in rows)
    bufs["meta.json"] = {"format": _TAX_FORMAT,
                         "normalization_version": norm_ver,
                         "n_phrases": len(bufs["phrase_off.npy"]) - 1,
                         "n_rows": len(rows)}
    return bufs


def build_taxcat_mmap(taxcat_parquet: str, out_dir: str) -> dict:
    """Compile a taxcat parquet (``build_taxcat_parquet`` output, valid
    rows only) into a phrase-scan mmap artifact.  The JRC/person/WFB-scale
    lexicon then costs page-cache pages shared across every worker on a
    node instead of a ~100 MB phrase dict per worker (the taxcat analog of
    the reference's one-Solr-FST-per-node model, solr/README.md:164-166)."""
    import pyarrow.parquet as pq

    norm_ver = _norm_version(taxcat_parquet, "build_taxcat_parquet")
    names = ["phrase", "kind", "canonical", "cc", "valid"]
    tbl = pq.read_table(taxcat_parquet, columns=names)
    rows = zip(*(tbl.column(c).to_pylist() for c in names))
    return write_artifact(out_dir, compile_taxcat(
        (r[:4] for r in rows if r[4]), norm_ver))


class MmapTaxcatIndex(MmapGazetteerIndex):
    """Taxon phrase tagger over a taxcat artifact — inherits the
    gazetteer artifact's scan (prefix2 buckets, binary-search extension,
    token memo, LDR overlap resolution, TAG_LIMIT); only payload hydration
    differs: rows are the (kind, canonical, cc) tuples ``tag_taxons``
    expects."""

    FILES = _PhraseFiles

    def _hydrate(self, b0: int, b1: int) -> list[tuple]:
        return [tuple(self.f.record(r)) for r in range(b0, b1)]


# --- generic keyed mmap table (postal-class side tables) ---------------------


def compile_keyed(keys: list[str], rows: list[tuple]) -> dict:
    """(key, value-row) pairs -> a sorted lookup table's named buffers, in
    memory — the layout for side tables like the reference's 4M
    COUNTRY+CODE postal tuples (PostalGeocoder.java:25-33), which would
    otherwise cost ~1 GB of dict heap PER WORKER.  Values serialize as
    strings; a per-column type tag in meta.json (agreed across ALL rows —
    int/float mixes promote to float, other conflicts fall back to str)
    re-types every column on read, so numeric columns round-trip typed."""
    order = sorted(range(len(keys)), key=keys.__getitem__)
    parts, bounds = _key_table([keys[i] for i in order])
    rows_bin, roff = _records(rows[i] for i in order)
    # per-column type tags scanned over ALL rows (a first-row-only scan
    # mis-tags mixed columns and then crashes int('n/a') at READ time):
    # bool before int (bool is an int subclass).  An int/float mix
    # promotes to 'float' (float() parses both reprs); any other conflict
    # falls back to 'str'; short rows contribute None and don't affect
    # the tag
    n_cols = max((len(r) for r in rows), default=0)
    types = []
    for c in range(n_cols):
        tag = None
        for r in rows:
            v = r[c] if c < len(r) else None
            if v is None:
                continue
            t = ("bool" if isinstance(v, bool)
                 else "int" if isinstance(v, int)
                 else "float" if isinstance(v, float) else "str")
            if tag is None or tag == t:
                tag = t
            elif {tag, t} == {"int", "float"}:
                tag = "float"
            else:
                tag = "str"
                break
        types.append(tag or "str")
    return {"keys.bin": b"".join(parts), "key_off.npy": _offsets(parts),
            "row_bounds.npy": bounds, "rows.bin": rows_bin,
            "row_off.npy": roff,
            "meta.json": {"format": _KV_FORMAT, "n_keys": len(parts),
                          "n_rows": len(order), "types": types}}


def build_keyed_mmap(out_dir: str, keys: list[str],
                     rows: list[tuple]) -> dict:
    """Compile (key, value-row) pairs into the keyed mmap artifact at
    ``out_dir`` (``compile_keyed``, then ``write_artifact``)."""
    return write_artifact(out_dir, compile_keyed(keys, rows))


class MmapKeyedTable:
    """Sorted-key binary-search lookup over a keyed artifact (a directory
    or the named buffers a compile returned); page cache shared across
    workers, O(1) private heap + a bounded memo."""

    def __init__(self, source: str | dict):
        meta = _read_meta(source, _KV_FORMAT, "keyed-table",
                          "mmapstore.build_keyed_mmap (a postal parquet: "
                          "postal.build_postal_mmap)")
        self.n = meta["n_keys"]
        self.kbuf = _buffer(source, "keys.bin")
        self.koff = _buffer(source, "key_off.npy")
        self.bounds = _buffer(source, "row_bounds.npy")
        self.rbuf = _buffer(source, "rows.bin")
        self.roff = _buffer(source, "row_off.npy")
        _CONV = {"str": str, "int": int, "float": float,
                 "bool": lambda s: s == "True"}
        self._conv = [_CONV.get(t, str) for t in meta.get("types", [])]
        self._memo: dict[str, list[tuple]] = {}

    def close(self) -> None:
        """Unmap the key and row tables."""
        _close(self.kbuf, self.rbuf)

    def _key_at(self, k: int) -> bytes:
        return self.kbuf[int(self.koff[k]):int(self.koff[k + 1])]

    def get(self, key: str) -> list[tuple]:
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        kb = key.encode("utf-8")
        lo = _bisect(self.kbuf, self.koff, kb, 0, self.n)
        out: list[tuple] = []
        if lo < self.n and self._key_at(lo) == kb:
            conv = self._conv
            b0, b1 = int(self.bounds[lo]), int(self.bounds[lo + 1])
            for r in range(b0, b1):
                rec = self.rbuf[int(self.roff[r]):int(self.roff[r + 1])] \
                    .decode("utf-8").split(_SEP)
                # index-based (not zip): a record wider than the type list
                # keeps its trailing fields as strings instead of silently
                # dropping them (review finding)
                out.append(tuple(
                    None if f == _NULL
                    else (conv[i](f) if i < len(conv) else f)
                    for i, f in enumerate(rec)))
        if len(self._memo) > 100_000:
            self._memo.clear()
        self._memo[key] = out
        return out
