"""Mmap-backed gazetteer index — the shared-memory path for the reference's
25M-name class.

Why this exists: ``store.ParquetGazetteerIndex`` builds a python dict of
phrase keys PER WORKER PROCESS (~563 B/name end-to-end measured at 1.2M
names) — linear extrapolation to the reference's 25M names
(solr/README.md:164-166) is ~14 GB per worker, ~450 GB per 32-worker node.
The reference shares ONE ~3 GB Solr FST per node across all mappers
(Examples/MapReduce/README.md).  This module is the Spark-native equivalent
of that sharing: the gazetteer compiles offline into a flat, binary,
mmap-able artifact; every executor python worker maps the same files, so
the OS page cache holds ONE copy per node no matter how many workers tag
against it.  Per-worker private heap is O(1) — a few hundred bytes of
open-file state plus a bounded hydration memo.

Artifact layout (directory)::

    meta.json         normalization_version + counts (refused on mismatch,
                      same contract as the tagger parquet sidecar)
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
all-lengths probe of ``PhraseIndex.scan`` / ``ParquetGazetteerIndex.scan``
(LONGEST_DOMINANT_RIGHT resolves overlaps afterwards, identical policy).
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

import numpy as np

from .matcher import (Place, TagLimitExceeded, Tokens,
                      _longest_dominant_right, token_view)

_STR_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
             "cc", "adm1"]
_SEP = "\x1f"
_NULL = "\x00"     # NULL sentinel in rows.bin (distinct from '')
_FORMAT = "xponents-mmap-1"
_CELL_DEG = 0.5
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

    # phrase table: distinct keys + row bounds
    blob_parts: list[bytes] = []
    poff = [0]
    bounds = [0]
    prev = None
    for i, p in enumerate(phrases):
        if p != prev:
            if prev is not None:
                bounds.append(i)
            b = p.encode("utf-8")
            blob_parts.append(b)
            poff.append(poff[-1] + len(b))
            prev = p
    bounds.append(n_rows)
    blob = b"".join(blob_parts)
    n_phrases = len(blob_parts)
    with open(os.path.join(out_dir, "phrases.bin"), "wb") as fh:
        fh.write(blob)
    poff_a = np.asarray(poff, dtype=np.uint64)
    np.save(os.path.join(out_dir, "phrase_off.npy"), poff_a)
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))

    # 2-byte bucket table over the sorted phrase keys
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
        [n_phrases]]).astype(np.uint64)
    np.save(os.path.join(out_dir, "prefix2.npy"), table)

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
    cj = np.floor(lon[rows_idx] / _CELL_DEG).astype(np.int64)
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


def is_mmap_artifact(path: str) -> bool:
    return os.path.isdir(path) and \
        os.path.exists(os.path.join(path, "phrases.bin"))


class _MmapFiles:
    """Shared open-file state for the phrase and payload tables."""

    def __init__(self, path: str):
        from .matcher import NORMALIZATION_VERSION
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _FORMAT:
            raise ValueError(f"{path}: unknown mmap artifact format")
        if meta.get("normalization_version") != NORMALIZATION_VERSION:
            raise ValueError(
                f"mmap artifact {path} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{NORMALIZATION_VERSION} — rebuild with build_mmap_artifact")
        self.meta = meta

        def load(name):
            return np.load(os.path.join(path, name), mmap_mode="r")

        self._pf = open(os.path.join(path, "phrases.bin"), "rb")
        self.pbuf = mmap.mmap(self._pf.fileno(), 0, access=mmap.ACCESS_READ)
        self.poff = load("phrase_off.npy")
        self.row_bounds = load("row_bounds.npy")
        self.prefix2 = load("prefix2.npy")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = load("row_off.npy")
        self.lat = load("lat.npy")
        self.lon = load("lon.npy")
        self.id_bias = load("id_bias.npy")
        self.pop = load("pop.npy")
        self.grid_cells = load("grid_cells.npy")
        self.grid_bounds = load("grid_bounds.npy")
        self.grid_rows = load("grid_rows.npy")

    def place(self, row: int) -> Place:
        rec = [None if f == _NULL else f
               for f in self.rbuf[int(self.roff[row]):
                                  int(self.roff[row + 1])]
               .decode("utf-8").split(_SEP)]
        lat = float(self.lat[row])
        lon = float(self.lon[row])
        return Place(*rec,
                     lat=None if math.isnan(lat) else lat,
                     lon=None if math.isnan(lon) else lon,
                     id_bias=int(self.id_bias[row]),
                     pop=int(self.pop[row]))


# one _MmapFiles per (process, path): MmapGazetteerIndex and
# MmapSpatialIndex in the same worker share mappings
_FILES: dict[str, _MmapFiles] = {}


def _files(path: str) -> _MmapFiles:
    f = _FILES.get(path)
    if f is None:
        f = _FILES[path] = _MmapFiles(path)
    return f


class MmapGazetteerIndex:
    """Phrase tagger over the mmap artifact; same scan contract as
    ``PhraseIndex`` / ``ParquetGazetteerIndex``: returns LDR-resolved
    ``(start, end, matchtext, places)`` tuples."""

    TAG_LIMIT = 100_000

    def __init__(self, path: str):
        self.f = _files(path)
        self._memo: dict[int, list[Place]] = {}
        # first-token probe memo: text vocabularies are Zipf-distributed,
        # so most tokens repeat constantly and most MISS the dictionary —
        # caching (exact-hit phrase idx, extension range) per token turns
        # the dominant top-level binary search into one dict hit.  Bounded:
        # ~200k entries ≈ 20-30 MB private/worker, still ~100x under the
        # heap-path footprint at 10M names.
        self._tok_memo: dict[str, tuple[int, int, int]] = {}

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

    def _places(self, k: int) -> list[Place]:
        hit = self._memo.get(k)
        if hit is None:
            from .matcher import CANDIDATE_CAP
            b0, b1 = int(self.f.row_bounds[k]), int(self.f.row_bounds[k + 1])
            if b1 - b0 > CANDIDATE_CAP:
                # O6 candidate cap — selected from the mmap'd id_bias
                # array alone, so a pathological 10^5-row phrase never
                # hydrates beyond the cap (stable argsort: bias ties keep
                # artifact order, matching _cap_places on the other paths)
                bias = np.asarray(self.f.id_bias[b0:b1])
                keep = np.sort(np.argsort(-bias, kind="stable")
                               [:CANDIDATE_CAP])
                rows = [b0 + int(i) for i in keep]
                hit = sorted((self.f.place(r) for r in rows),
                             key=lambda p: -p.id_bias)
            else:
                hit = [self.f.place(r) for r in range(b0, b1)]
            if len(self._memo) > 200_000:    # bound worker memory growth
                self._memo.clear()
            self._memo[k] = hit
        return hit

    def scan(self, text: str, toks: Tokens = None
             ) -> list[tuple[int, int, str, list]]:
        view = token_view(text, toks)
        norms = view.norms
        spans = None            # offsets are read only once a phrase hits
        T = self.f.prefix2
        n = len(norms)
        raw: list[tuple[int, int, int]] = []
        memo = self._tok_memo
        for i, norm in enumerate(norms):
            ent = memo.get(norm)
            if ent is None:
                key = norm.encode("utf-8")
                if not key:
                    continue
                b0 = key[0]
                if len(key) >= 2:
                    c = (b0 << 8) | key[1]
                    lo, hi = int(T[c]), int(T[c + 1])
                else:   # 1-byte token: cover the whole first-byte band
                    lo, hi = int(T[b0 << 8]), int(T[(b0 + 1) << 8])
                if lo >= hi:
                    exact, lo2, hi2 = -1, 0, 0
                else:
                    k = self._bisect(key, lo, hi)
                    exact = k if k < hi and self._phrase(k) == key else -1
                    pref = key + b" "
                    lo2 = self._bisect(pref, k, hi)
                    hi2 = self._bisect(pref + b"\xff", lo2, hi)
                if len(memo) > 200_000:
                    memo.clear()
                memo[norm] = ent = (exact, lo2, hi2)
            exact, lo2, hi2 = ent
            if exact < 0 and lo2 >= hi2:
                continue
            if exact >= 0:
                if spans is None:
                    spans = view.spans
                raw.append((spans[i][0], spans[i][1], exact))
                if len(raw) > self.TAG_LIMIT:
                    raise TagLimitExceeded(
                        f"tag limit {self.TAG_LIMIT} exceeded in one "
                        f"document")
            pref = norm.encode("utf-8") + b" "
            j = i + 1
            while lo2 < hi2 and j < n:
                cur = pref + norms[j].encode("utf-8")
                k2 = self._bisect(cur, lo2, hi2)
                if k2 < hi2 and self._phrase(k2) == cur:
                    if spans is None:
                        spans = view.spans
                    raw.append((spans[i][0], spans[j][1], k2))
                    if len(raw) > self.TAG_LIMIT:
                        raise TagLimitExceeded(
                            f"tag limit {self.TAG_LIMIT} exceeded in one "
                            f"document")
                pref = cur + b" "
                lo2 = self._bisect(pref, k2, hi2)
                hi2 = self._bisect(pref + b"\xff", lo2, hi2)
                j += 1
        resolved = _longest_dominant_right(raw)
        # hydrate AFTER overlap resolution: losers cost nothing
        return [(s, e, text[s:e], self._places(k)) for s, e, k in resolved]


class MmapSpatialIndex:
    """Reverse-geocode grid over the mmap artifact; same ``places_at``
    contract as ``spatial.SpatialIndex`` / ``store.CompactSpatialIndex``.
    All lookups are ``np.searchsorted`` over mmap'd arrays — zero
    per-worker build cost."""

    def __init__(self, path: str):
        self.f = _files(path)

    def _cand(self, lat: float, lon: float, reach: int) -> np.ndarray:
        f = self.f
        ci, cj = int(math.floor(lat / _CELL_DEG)), \
            int(math.floor(lon / _CELL_DEG))
        want = np.asarray([(ci + di) * _CELL_MUL + (cj + dj)
                           for di in range(-reach, reach + 1)
                           for dj in range(-reach, reach + 1)],
                          dtype=np.int64)
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
        idx = self._cand(lat, lon, max(1, int(math.ceil(radius_km / 55.0))))
        if not len(idx):
            return []
        la, lo = np.radians(f.lat[idx]), np.radians(f.lon[idx])
        qa, qo = math.radians(lat), math.radians(lon)
        a = (np.sin((la - qa) / 2) ** 2
             + math.cos(qa) * np.cos(la) * np.sin((lo - qo) / 2) ** 2)
        d = 2 * 6_371_000.0 * np.arcsin(np.sqrt(a))
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

_TAX_FORMAT = "xponents-taxmmap-1"


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
    # cc '' -> None: parity with the parquet dict path (`cc or None` in
    # matcher._tax_index_from_parquet)
    rows = [(p, k, cn, cc or None) for p, k, cn, cc, v in
            zip(cols["phrase"], cols["kind"], cols["canonical"],
                cols["cc"], cols["valid"]) if v and p]
    rows.sort(key=lambda r: r[0])            # codepoint == UTF-8 byte order

    os.makedirs(out_dir, exist_ok=True)
    blob_parts: list[bytes] = []
    poff = [0]
    bounds = [0]
    prev = None
    roff = [0]
    with open(os.path.join(out_dir, "rows.bin"), "wb") as fh:
        for i, (p, k, cn, cc) in enumerate(rows):
            if p != prev:
                if prev is not None:
                    bounds.append(i)
                b = p.encode("utf-8")
                blob_parts.append(b)
                poff.append(poff[-1] + len(b))
                prev = p
            rec = _SEP.join(_NULL if v is None else v.replace(_SEP, " ")
                            for v in (k, cn, cc)).encode("utf-8")
            fh.write(rec)
            roff.append(roff[-1] + len(rec))
    bounds.append(len(rows))
    blob = b"".join(blob_parts)
    with open(os.path.join(out_dir, "phrases.bin"), "wb") as fh:
        fh.write(blob)
    poff_a = np.asarray(poff, dtype=np.uint64)
    np.save(os.path.join(out_dir, "phrase_off.npy"), poff_a)
    np.save(os.path.join(out_dir, "row_bounds.npy"),
            np.asarray(bounds, dtype=np.uint64))
    np.save(os.path.join(out_dir, "row_off.npy"),
            np.asarray(roff, dtype=np.uint64))

    # 2-byte prefix buckets (same scheme as the gazetteer artifact)
    bb = np.frombuffer(blob, dtype=np.uint8)
    if len(blob_parts):
        starts = poff_a[:-1].astype(np.int64)
        lens = np.diff(poff_a.astype(np.int64))
        first = bb[starts].astype(np.uint32)
        second = np.where(lens >= 2,
                          bb[np.minimum(starts + 1, max(len(bb) - 1, 0))],
                          0).astype(np.uint32)
        code = (first << 8) | second
    else:
        code = np.empty(0, dtype=np.uint32)
    table = np.concatenate([
        np.searchsorted(code, np.arange(65536), side="left"),
        [len(blob_parts)]]).astype(np.uint64)
    np.save(os.path.join(out_dir, "prefix2.npy"), table)

    meta = {"format": _TAX_FORMAT, "normalization_version": norm_ver,
            "n_phrases": len(blob_parts), "n_rows": len(rows)}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def is_tax_mmap(path: str) -> bool:
    if not os.path.isdir(path) or \
            not os.path.exists(os.path.join(path, "meta.json")):
        return False
    try:
        with open(os.path.join(path, "meta.json")) as fh:
            return json.load(fh).get("format") == _TAX_FORMAT
    except (OSError, ValueError):
        return False


class _TaxFiles:
    """Open-file state for the taxcat artifact — duck-typed subset of
    ``_MmapFiles`` (pbuf/poff/prefix2/row_bounds + payload rows)."""

    def __init__(self, path: str):
        from .matcher import NORMALIZATION_VERSION
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _TAX_FORMAT:
            raise ValueError(f"{path}: not a taxcat mmap artifact")
        if meta.get("normalization_version") != NORMALIZATION_VERSION:
            raise ValueError(
                f"taxcat mmap {path} normalized with version "
                f"{meta.get('normalization_version')}, engine expects "
                f"{NORMALIZATION_VERSION} — rebuild with build_taxcat_mmap")
        self.meta = meta

        def load(name):
            return np.load(os.path.join(path, name), mmap_mode="r")

        self._pf = open(os.path.join(path, "phrases.bin"), "rb")
        self.pbuf = mmap.mmap(self._pf.fileno(), 0, access=mmap.ACCESS_READ)
        self.poff = load("phrase_off.npy")
        self.row_bounds = load("row_bounds.npy")
        self.prefix2 = load("prefix2.npy")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = load("row_off.npy")


class MmapTaxcatIndex(MmapGazetteerIndex):
    """Taxon phrase tagger over the taxcat mmap artifact — inherits the
    gazetteer artifact's scan (prefix2 buckets, binary-search extension,
    token memo, LDR overlap resolution, TAG_LIMIT); only payload hydration
    differs: rows are (kind, canonical, cc) tuples, the PhraseIndex
    payload contract ``tag_taxons`` expects."""

    def __init__(self, path: str):
        self.f = _TaxFiles(path)
        self._memo = {}
        self._tok_memo = {}

    def _places(self, k: int) -> list[tuple]:
        hit = self._memo.get(k)
        if hit is None:
            b0, b1 = int(self.f.row_bounds[k]), int(self.f.row_bounds[k + 1])
            hit = []
            for r in range(b0, b1):
                rec = self.f.rbuf[int(self.f.roff[r]):int(self.f.roff[r + 1])] \
                    .decode("utf-8").split(_SEP)
                hit.append(tuple(None if v == _NULL else v for v in rec))
            if len(self._memo) > 200_000:
                self._memo.clear()
            self._memo[k] = hit
        return hit


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


def is_kv_mmap(path: str) -> bool:
    return os.path.isdir(path) and \
        os.path.exists(os.path.join(path, "keys.bin"))


class MmapKeyedTable:
    """Sorted-key binary-search lookup over the keyed mmap artifact; page
    cache shared across workers, O(1) private heap + a bounded memo."""

    def __init__(self, path: str):
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != _KV_FORMAT:
            raise ValueError(f"{path}: not a keyed mmap artifact")
        self.n = meta["n_keys"]
        self._kf = open(os.path.join(path, "keys.bin"), "rb")
        self.kbuf = mmap.mmap(self._kf.fileno(), 0, access=mmap.ACCESS_READ)
        self.koff = np.load(os.path.join(path, "key_off.npy"), mmap_mode="r")
        self.bounds = np.load(os.path.join(path, "row_bounds.npy"),
                              mmap_mode="r")
        self._rf = open(os.path.join(path, "rows.bin"), "rb")
        self.rbuf = mmap.mmap(self._rf.fileno(), 0, access=mmap.ACCESS_READ)
        self.roff = np.load(os.path.join(path, "row_off.npy"), mmap_mode="r")
        _CONV = {"str": str, "int": int, "float": float,
                 "bool": lambda s: s == "True"}
        self._conv = [_CONV.get(t, str) for t in meta.get("types", [])]
        self._memo: dict[str, list[tuple]] = {}

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
                if conv:
                    # index-based (not zip): a record wider than the type
                    # list keeps its trailing fields as strings instead of
                    # silently dropping them (review finding)
                    out.append(tuple(
                        None if f == _NULL
                        else (conv[i](f) if i < len(conv) else f)
                        for i, f in enumerate(rec)))
                else:    # pre-typed-meta artifact: stringly fallback
                    out.append(tuple(None if f == _NULL else f for f in rec))
        if len(self._memo) > 100_000:
            self._memo.clear()
        self._memo[key] = out
        return out
