"""Mmap-backed gazetteer index — the one file-backed path for the
reference's 25M-name class.

Why this is the file-backed path: a python dict of phrase keys built PER
WORKER PROCESS costs ~563 B/name end-to-end (measured at 1.2M names) —
linear extrapolation to the reference's 25M names (solr/README.md:164-166)
is ~14 GB per worker, ~450 GB per 32-worker node (SCALE.md).  The
reference shares ONE ~3 GB Solr FST per node across all mappers
(Examples/MapReduce/README.md).  This module is the Spark-native equivalent
of that sharing: the gazetteer compiles offline into a flat, binary,
mmap-able artifact; every executor python worker maps the same files, so
the OS page cache holds ONE copy per node no matter how many workers tag
against it.  Per-worker private heap is O(1) — a few hundred bytes of
open-file state plus a bounded hydration memo.

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
    grid_bounds.npy   uint64[C+1]   the located P/A reverse-geocode subset
    grid_rows.npy     uint64[...]   (row indices grouped by cell)

Lookup is incremental longest-match over the sorted phrase array: for each
token, binary-search the exact token and the ``token + ' '`` prefix range,
then extend one token at a time while the prefix range stays non-empty —
every exact hit along the way is recorded, reproducing exactly the
all-lengths probe of ``PhraseIndex.scan`` (LONGEST_DOMINANT_RIGHT resolves
overlaps afterwards, identical policy).
UTF-8 byte order equals code-point order, so ``np.argsort`` at build time
and byte compares at query time agree.

Scale notes (100 TB design):
* the artifact ships like the reference's Solr index: build once in ETL,
  distribute to each node (spark-submit --files / a node-local fetch), mmap
  everywhere.  Queries touch O(log P) pages per token; the hot upper levels
  of the implicit search tree stay resident in page cache.
* build currently materializes the sorted columns in one process (~100 B/row
  transient); for gazetteers beyond ~100M rows, build per first-byte shard
  and concatenate — the file format is concatenation-friendly.

Reference parity anchors: FST tagger semantics GazetteerMatcher.java:151-163,
tag limit SolrMatcherSupport.java:46,186-195, reverse geocode
PlaceGeocoder.java:874-978 / SolrGazetteer.java:131-159.
"""

from __future__ import annotations

import json
import math
import mmap
import os
from itertools import compress as _compress

import numpy as np

from ..functions.geo import EARTH_RADIUS_M
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
_CELL_MUL = 1_000_003


def build_mmap_artifact(tagger_parquet: str, out_dir: str) -> dict:
    """Compile a tagger parquet (``build_tagger_parquet`` output) into the
    mmap artifact.  One-off ETL step, pure pyarrow/numpy — the analog of
    the reference's Solr index build (solr/build.sh).  Returns counts."""
    import pyarrow.parquet as pq

    meta_path = os.path.join(tagger_parquet, "_normalization.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{tagger_parquet} has no _normalization.json "
                         f"sidecar — build with build_tagger_parquet")
    with open(meta_path) as fh:
        norm_ver = json.load(fh)["normalization_version"]

    tbl = pq.read_table(tagger_parquet,
                        columns=_STR_COLS + ["lat", "lon", "id_bias", "pop",
                                             "phrase"])
    phrases = np.asarray(tbl.column("phrase").to_pylist(), dtype=object)
    order = np.argsort(phrases, kind="stable")   # codepoint == UTF-8 order
    tbl = tbl.take(order).combine_chunks()
    phrases = phrases[order]
    n_rows = len(phrases)

    os.makedirs(out_dir, exist_ok=True)
    n_phrases = _write_phrase_table(out_dir, phrases)

    # payload rows (0x1F-joined strings; numerics as typed arrays)
    cols = {c: tbl.column(c).to_pylist() for c in _STR_COLS}
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for i in range(n_rows):
            # NULL and '' must stay distinct (the parquet path preserves
            # both — review finding): NULs encode SQL NULL, they cannot
            # appear in real field text
            rec = _SEP.join(
                _NULL if (v := cols[c][i]) is None else v.replace(_SEP, " ")
                for c in _STR_COLS).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))

    def _f8(name):
        v = tbl.column(name).to_numpy(zero_copy_only=False).astype(np.float64)
        np.save(os.path.join(out_dir, f"{name}.npy"), v)
        return v

    lat = _f8("lat")
    lon = _f8("lon")
    ib = tbl.column("id_bias").to_numpy(zero_copy_only=False)
    np.save(os.path.join(out_dir, "id_bias.npy"),
            np.nan_to_num(ib.astype(np.float64)).astype(np.int32))
    pop = tbl.column("pop").to_numpy(zero_copy_only=False)
    np.save(os.path.join(out_dir, "pop.npy"),
            np.nan_to_num(pop.astype(np.float64)).astype(np.int64))

    # reverse-geocode grid over located P/A rows (parity with
    # spatial.SpatialIndex build filters: valid lat+lon, P/A class,
    # non-empty cc, no country centroids)
    fclass = np.asarray(cols["feat_class"], dtype=object)
    fcode = np.asarray(cols["feat_code"], dtype=object)
    cc = np.asarray(cols["cc"], dtype=object)
    keep = (np.isfinite(lat) & np.isfinite(lon)
            & ((fclass == "P") | (fclass == "A"))
            & (cc != "") & (cc != None)  # noqa: E711 — element-wise
            & ~np.array([str(f).startswith("PCL") for f in fcode]))
    rows_idx = np.flatnonzero(keep)
    ci = np.floor(lat[rows_idx] / _CELL_DEG).astype(np.int64)
    cj = _wrap(np.floor(lon[rows_idx] / _CELL_DEG).astype(np.int64))
    cell = ci * _CELL_MUL + cj
    o = np.argsort(cell, kind="stable")
    cell, rows_idx = cell[o], rows_idx[o]
    uniq, ustart = np.unique(cell, return_index=True)
    np.save(os.path.join(out_dir, "grid_cells.npy"), uniq.astype(np.int64))
    np.save(os.path.join(out_dir, "grid_bounds.npy"),
            np.concatenate([ustart, [len(cell)]]).astype(np.uint64))
    np.save(os.path.join(out_dir, "grid_rows.npy"),
            rows_idx.astype(np.uint64))

    meta = {"format": _FORMAT, "normalization_version": norm_ver,
            "n_phrases": int(n_phrases), "n_rows": int(n_rows),
            "n_grid_rows": int(len(rows_idx))}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def _write_phrase_table(out_dir: str, phrases) -> int:
    """The phrase table of an artifact whose payload row i has the sorted
    key ``phrases[i]``: distinct keys (phrases.bin, phrase_off.npy), each
    key's row range (row_bounds.npy) and the 2-byte bucket table over the
    keys (prefix2.npy).  Returns the number of distinct keys."""
    blob_parts: list[bytes] = []
    poff = [0]
    bounds = []
    prev = None
    for i, p in enumerate(phrases):
        if p != prev:
            bounds.append(i)
            b = p.encode("utf-8")
            blob_parts.append(b)
            poff.append(poff[-1] + len(b))
            prev = p
    bounds.append(len(phrases))
    blob = b"".join(blob_parts)
    with open(os.path.join(out_dir, "phrases.bin"), "wb") as fh:
        fh.write(blob)
    poff_a = np.asarray(poff, dtype=np.uint64)
    np.save(os.path.join(out_dir, "phrase_off.npy"), poff_a)
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))

    bb = np.frombuffer(blob, dtype=np.uint8)
    starts = poff_a[:-1].astype(np.int64)
    lens = np.diff(poff_a.astype(np.int64))
    first = bb[starts].astype(np.uint32)
    second = np.where(lens >= 2,
                      bb[np.minimum(starts + 1, max(len(bb) - 1, 0))],
                      0).astype(np.uint32)
    code = (first << 8) | second
    table = np.concatenate([
        np.searchsorted(code, np.arange(65536), side="left"),
        [len(blob_parts)]]).astype(np.uint64)
    np.save(os.path.join(out_dir, "prefix2.npy"), table)
    return len(blob_parts)


def _map(path: str) -> mmap.mmap:
    """Read-only map of a whole file (the map holds its own descriptor)."""
    with open(path, "rb") as fh:
        return mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)


def _read_meta(path: str, fmt: str, what: str, build: str) -> dict:
    """The artifact's meta.json.  A directory that is not a ``fmt``
    artifact — a plain parquet directory, say — is refused with the
    compile step that makes one."""
    try:
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        meta = {}
    if not isinstance(meta, dict) or meta.get("format") != fmt:
        raise ValueError(f"{path} is not a compiled {what} artifact — "
                         f"compile it with {build}")
    return meta


class _PhraseFiles:
    """Open-file state of a phrase-table artifact: sorted phrase keys,
    their 2-byte prefix buckets and the payload rows.  Opening refuses
    another format and another normalization version."""

    FORMAT, WHAT, BUILD = (_TAX_FORMAT, "taxcat",
                           "mmapstore.build_taxcat_mmap")

    def __init__(self, path: str):
        meta = _read_meta(path, self.FORMAT, self.WHAT, self.BUILD)
        if meta.get("normalization_version") != matcher.NORMALIZATION_VERSION:
            raise ValueError(
                f"{self.WHAT} artifact {path} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{matcher.NORMALIZATION_VERSION} — rebuild with "
                f"{self.BUILD}")
        self.meta = meta
        self.path = path
        self.pbuf = _map(os.path.join(path, "phrases.bin"))
        self.poff = self._load("phrase_off.npy")
        self.row_bounds = self._load("row_bounds.npy")
        self.prefix2 = self._load("prefix2.npy")
        self.rbuf = _map(os.path.join(path, "rows.bin"))
        self.roff = self._load("row_off.npy")

    def _load(self, name: str) -> np.ndarray:
        return np.load(os.path.join(self.path, name), mmap_mode="r")

    def close(self) -> None:
        """Unmap the byte tables (the ``.npy`` maps go with their last
        reference)."""
        self.pbuf.close()
        self.rbuf.close()

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

    def __init__(self, path: str):
        super().__init__(path)
        self.lat = self._load("lat.npy")
        self.lon = self._load("lon.npy")
        self.id_bias = self._load("id_bias.npy")
        self.pop = self._load("pop.npy")
        self.grid_cells = self._load("grid_cells.npy")
        self.grid_bounds = self._load("grid_bounds.npy")
        self.grid_rows = self._load("grid_rows.npy")

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
    """Phrase tagger over the mmap artifact; same scan contract as
    ``PhraseIndex``: returns LDR-resolved ``(start, end, matchtext,
    places)`` tuples.  ``source`` is an artifact directory, or its files
    already open (``tables`` shares one set with the reverse-geocode
    grid)."""

    FILES = _MmapFiles

    def __init__(self, source: str | _PhraseFiles):
        self.f = (source if isinstance(source, _PhraseFiles)
                  else self.FILES(source))
        self._memo: dict[int, list[Place]] = {}
        # first-token probe memo: text vocabularies are Zipf-distributed,
        # so most tokens repeat constantly and most MISS the dictionary —
        # caching (exact-hit phrase idx, extension range) per token turns
        # the dominant top-level binary search into one dict hit.  Bounded:
        # ~200k entries ≈ 20-30 MB private/worker, still ~100x under a
        # per-worker phrase dict's footprint at 10M names.
        self._tok_memo: dict[str, tuple[int, int, int]] = {}
        # tokens known to start no phrase: the scan's first-token gate
        self._dead: set[str] = set()

    # binary search over the sorted phrase byte table
    def _bisect(self, key: bytes, lo: int, hi: int) -> int:
        pbuf, poff = self.f.pbuf, self.f.poff
        while lo < hi:
            mid = (lo + hi) >> 1
            if pbuf[int(poff[mid]):int(poff[mid + 1])] < key:
                lo = mid + 1
            else:
                hi = mid
        return lo

    def _phrase(self, k: int) -> bytes:
        return self.f.pbuf[int(self.f.poff[k]):int(self.f.poff[k + 1])]

    def _places(self, k: int) -> list:
        """Phrase ``k``'s payloads, memoized."""
        hit = self._memo.get(k)
        if hit is None:
            if len(self._memo) > 200_000:    # bound worker memory growth
                self._memo.clear()
            hit = self._memo[k] = self._hydrate(
                int(self.f.row_bounds[k]), int(self.f.row_bounds[k + 1]))
        return hit

    def _hydrate(self, b0: int, b1: int) -> list[Place]:
        if b1 - b0 > matcher.CANDIDATE_CAP:
            # O6 candidate cap — selected from the mmap'd id_bias array
            # alone, so a pathological 10^5-row phrase never hydrates
            # beyond the cap (stable argsort: bias ties keep artifact
            # order, matching _cap_places on the other paths)
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
            T = self.f.prefix2
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
                k = self._bisect(key, lo, hi)
                exact = k if k < hi and self._phrase(k) == key else -1
                pref = key + b" "
                lo2 = self._bisect(pref, k, hi)
                ent = (exact, lo2, self._bisect(pref + b"\xff", lo2, hi))
            if len(memo) > 200_000:
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
        if len(dead) > 200_000:
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
                k2 = self._bisect(cur, lo2, hi2)
                if k2 < hi2 and self._phrase(k2) == cur:
                    if spans is None:
                        spans = view.spans
                    raw.append((spans[i][0], spans[j][1], k2))
                    if len(raw) > limit:
                        raise TagLimitExceeded(
                            f"tag limit {limit} exceeded in one document")
                pref = cur + b" "
                lo2 = self._bisect(pref, k2, hi2)
                hi2 = self._bisect(pref + b"\xff", lo2, hi2)
                j += 1
        resolved = _longest_dominant_right(raw)
        # hydrate AFTER overlap resolution: losers cost nothing
        return [(s, e, text[s:e], self._places(k)) for s, e, k in resolved]


class MmapSpatialIndex:
    """Reverse-geocode grid over the mmap artifact; same ``places_at``
    contract as ``spatial.SpatialIndex``.
    All lookups are ``np.searchsorted`` over mmap'd arrays — zero
    per-worker build cost."""

    def __init__(self, source: str | _MmapFiles):
        self.f = (source if isinstance(source, _MmapFiles)
                  else _MmapFiles(source))

    def _cand(self, lat: float, lon: float, radius_km: float) -> np.ndarray:
        f = self.f
        # np.unique sorts the cell codes: candidates come in grid order
        want = np.unique(np.asarray([ci * _CELL_MUL + cj for ci, cj
                                     in cells_near(lat, lon, radius_km)],
                                    dtype=np.int64))
        pos = np.searchsorted(f.grid_cells, want)
        pos = pos[pos < len(f.grid_cells)]
        hit = pos[np.isin(f.grid_cells[pos], want)]
        if not len(hit):
            return np.empty(0, np.int64)
        parts = [f.grid_rows[int(f.grid_bounds[p]):int(f.grid_bounds[p + 1])]
                 for p in hit]
        return np.concatenate(parts).astype(np.int64)

    def places_at(self, lat: float, lon: float, radius_km: float = 50,
                  limit: int = 5) -> list[tuple[float, Place]]:
        f = self.f
        idx = self._cand(lat, lon, radius_km)
        if not len(idx):
            return []
        la, lo = np.radians(f.lat[idx]), np.radians(f.lon[idx])
        qa, qo = math.radians(lat), math.radians(lon)
        a = (np.sin((la - qa) / 2) ** 2
             + math.cos(qa) * np.cos(la) * np.sin((lo - qo) / 2) ** 2)
        d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
        ok = d <= radius_km * 1000
        idx, d = idx[ok], d[ok]
        out: list[tuple[float, Place]] = []
        seen: set[str] = set()
        for k in np.argsort(d, kind="stable"):
            p = f.place(int(idx[k]))
            if p.place_id in seen:   # one entry per place_id (name dups)
                continue
            seen.add(p.place_id)
            out.append((float(d[k]), p))
            if len(out) >= limit:
                break
        return out


# --- taxcat mmap artifact (T4 shared-memory path) ----------------------------


def build_taxcat_mmap(taxcat_parquet: str, out_dir: str) -> dict:
    """Compile a taxcat parquet (``build_taxcat_parquet`` output) into a
    phrase-scan mmap artifact: same sorted-phrase-table + 2-byte-prefix
    bucket layout as the gazetteer artifact, payload rows are
    (kind, canonical, cc).  The JRC/person/WFB-scale lexicon then costs
    page-cache pages shared across every worker on a node instead of a
    ~100 MB phrase dict per worker (the taxcat analog of the reference's
    one-Solr-FST-per-node model, solr/README.md:164-166)."""
    import pyarrow.parquet as pq

    meta_path = os.path.join(taxcat_parquet, "_normalization.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{taxcat_parquet} has no _normalization.json "
                         f"sidecar — build with build_taxcat_parquet")
    with open(meta_path) as fh:
        norm_ver = json.load(fh)["normalization_version"]

    tbl = pq.read_table(taxcat_parquet,
                        columns=["phrase", "kind", "canonical", "cc", "valid"])
    cols = {c: tbl.column(c).to_pylist()
            for c in ("phrase", "kind", "canonical", "cc", "valid")}
    # cc '' -> None: the embedded lexicons carry None for "no country"
    rows = [(p, k, cn, cc or None) for p, k, cn, cc, v in
            zip(cols["phrase"], cols["kind"], cols["canonical"],
                cols["cc"], cols["valid"]) if v and p]
    rows.sort(key=lambda r: r[0])            # codepoint == UTF-8 byte order

    os.makedirs(out_dir, exist_ok=True)
    n_phrases = _write_phrase_table(out_dir, [r[0] for r in rows])
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for _p, k, cn, cc in rows:
            rec = _SEP.join(_NULL if v is None else v.replace(_SEP, " ")
                            for v in (k, cn, cc)).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))

    meta = {"format": _TAX_FORMAT, "normalization_version": norm_ver,
            "n_phrases": n_phrases, "n_rows": len(rows)}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


class MmapTaxcatIndex(MmapGazetteerIndex):
    """Taxon phrase tagger over the taxcat mmap artifact — inherits the
    gazetteer artifact's scan (prefix2 buckets, binary-search extension,
    token memo, LDR overlap resolution, TAG_LIMIT); only payload hydration
    differs: rows are (kind, canonical, cc) tuples, the PhraseIndex
    payload contract ``tag_taxons`` expects."""

    FILES = _PhraseFiles

    def _hydrate(self, b0: int, b1: int) -> list[tuple]:
        return [tuple(self.f.record(r)) for r in range(b0, b1)]


# --- generic keyed mmap table (postal-class side tables) ---------------------

_KV_FORMAT = "xponents-kvmmap-1"


def build_keyed_mmap(out_dir: str, keys: list[str],
                     rows: list[tuple]) -> dict:
    """Compile (key, value-row) pairs into a sorted mmap lookup table —
    the shared-memory path for side tables like the reference's 4M
    COUNTRY+CODE postal tuples (PostalGeocoder.java:25-33), which would
    otherwise cost ~1 GB of dict heap PER WORKER.  Values serialize as
    strings; a per-column type tag in meta.json (agreed across ALL rows —
    int/float mixes promote to float, other conflicts fall back to str)
    re-types every column on read, so numeric columns round-trip typed
    exactly like the parquet dict path (review finding: the old
    strings-plus-lat/lon contract silently stringified any later-added
    numeric column)."""
    import builtins
    order = sorted(range(len(keys)), key=lambda i: keys[i])
    os.makedirs(out_dir, exist_ok=True)
    kblob_parts: list[bytes] = []
    koff = [0]
    bounds = [0]
    prev = None
    n_keys = 0
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for pos, i in enumerate(order):
            k = keys[i]
            if k != prev:
                if prev is not None:
                    bounds.append(pos)
                b = k.encode("utf-8")
                kblob_parts.append(b)
                koff.append(koff[-1] + len(b))
                prev = k
                n_keys += 1
            rec = _SEP.join(
                _NULL if v is None else builtins.str(v).replace(_SEP, " ")
                for v in rows[i]).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    bounds.append(len(order))
    with open(os.path.join(out_dir, "keys.bin"), "wb") as fh:
        fh.write(b"".join(kblob_parts))
    np.save(os.path.join(out_dir, "key_off.npy"),
            np.asarray(koff, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))
    # per-column type tags scanned over ALL rows (a first-row-only scan
    # mis-tags mixed columns and then crashes int('n/a') at READ time —
    # review finding): bool before int (bool is an int subclass).  An
    # int/float mix promotes to 'float' (float() parses both reprs); any
    # other conflict falls back to 'str'; short rows contribute None and
    # don't affect the tag
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
    meta = {"format": _KV_FORMAT, "n_keys": int(n_keys),
            "n_rows": len(order), "types": types}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


class MmapKeyedTable:
    """Sorted-key binary-search lookup over the keyed mmap artifact; page
    cache shared across workers, O(1) private heap + a bounded memo."""

    def __init__(self, path: str):
        meta = _read_meta(path, _KV_FORMAT, "keyed-table",
                          "mmapstore.build_keyed_mmap (a postal parquet: "
                          "postal.build_postal_mmap)")
        self.n = meta["n_keys"]
        self.kbuf = _map(os.path.join(path, "keys.bin"))
        self.koff = np.load(os.path.join(path, "key_off.npy"), mmap_mode="r")
        self.bounds = np.load(os.path.join(path, "row_bounds.npy"),
                              mmap_mode="r")
        self.rbuf = _map(os.path.join(path, "rows.bin"))
        self.roff = np.load(os.path.join(path, "row_off.npy"), mmap_mode="r")
        _CONV = {"str": str, "int": int, "float": float,
                 "bool": lambda s: s == "True"}
        self._conv = [_CONV.get(t, str) for t in meta.get("types", [])]
        self._memo: dict[str, list[tuple]] = {}

    def close(self) -> None:
        """Unmap the key and row tables."""
        self.kbuf.close()
        self.rbuf.close()

    def _key_at(self, k: int) -> bytes:
        return self.kbuf[int(self.koff[k]):int(self.koff[k + 1])]

    def get(self, key: str) -> list[tuple]:
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        kb = key.encode("utf-8")
        lo, hi = 0, self.n
        while lo < hi:
            mid = (lo + hi) >> 1
            if self._key_at(mid) < kb:
                lo = mid + 1
            else:
                hi = mid
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
