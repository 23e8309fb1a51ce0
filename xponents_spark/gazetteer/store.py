"""Parquet-backed gazetteer index — the scale path (reference: 25M-name
Solr FST index, ~3.0 GB, solr/README.md:164-166).

Round 1 loaded external gazetteers with ``spark.read.parquet(...).collect()``
on the DRIVER and shipped python tuples through a closure — a driver-memory
and serialization wall at real scale.  This module inverts that: the driver
ships only the parquet *path*; every executor python worker reads the file
directly (pyarrow, no Spark, no JVM round-trip) and builds one process-wide
compact index, exactly like the reference's one-Solr-index-per-node shared
by all mappers (Examples/MapReduce/README.md).  On a cluster the path is on
shared storage (HDFS/S3 via a local fetch, or an NFS artifact dir) — the
same distribution contract as spark-submit ``--files``.

Memory: the index holds ONE python string per distinct phrase plus two
dicts and the Arrow table; payload ``Place`` objects hydrate lazily per
matched phrase only.  Measured: ~1.0 GB RSS for 1.18M names (vs the
reference tagger's 1.2-3.0 GB JVM heap for 25M FST-compressed names —
doc/README_gazetteer.md:44-47).  Build ~6 s once per long-lived worker.

The tagger parquet MUST carry a ``phrase`` column = the matcher's own
normalization (``build_tagger_parquet`` writes it); scan semantics are
identical to the in-memory ``PhraseIndex`` (LONGEST_DOMINANT_RIGHT, same
TAG_LIMIT guardrail).
"""

from __future__ import annotations

import numpy as np

from .matcher import Place, Tokens, scan_phrases

_COLS = ["place_id", "name", "name_type", "feat_class", "feat_code",
         "cc", "adm1", "lat", "lon", "id_bias", "pop"]


class ParquetGazetteerIndex:
    """Compact phrase index over a tagger parquet; same scan contract as
    ``PhraseIndex`` (start, end, matchtext, places)."""

    TAG_LIMIT = 100_000

    def __init__(self, path: str):
        import json
        import os

        import pyarrow.parquet as pq

        from .matcher import NORMALIZATION_VERSION
        meta_path = os.path.join(path, "_normalization.json")
        # a MISSING sidecar is refused too: an artifact copied without it
        # (object-store sync of part files only) could carry stale phrase
        # normalization and would silently stop matching
        if not os.path.exists(meta_path):
            raise ValueError(
                f"tagger parquet {path} has no _normalization.json sidecar "
                f"— rebuild with sources.gazetteer_etl.build_tagger_parquet "
                f"(or copy the artifact directory whole)")
        with open(meta_path) as fh:
            ver = json.load(fh).get("normalization_version")
        if ver != NORMALIZATION_VERSION:
            raise ValueError(
                f"tagger parquet {path} was normalized with version "
                f"{ver}, engine expects {NORMALIZATION_VERSION} — "
                f"rebuild with sources.gazetteer_etl.build_tagger_parquet")
        tbl = pq.read_table(path, columns=_COLS + ["phrase"])
        phrases = np.asarray(tbl.column("phrase").to_pylist(), dtype=object)
        order = np.argsort(phrases, kind="stable")
        self._tbl = tbl.take(order).combine_chunks()
        phrases = phrases[order]

        # contiguous slices per phrase + per-first-token max phrase length
        self.loc: dict[str, tuple[int, int]] = {}
        self.first_max: dict[str, int] = {}
        n = len(phrases)
        i = 0
        while i < n:
            j = i + 1
            p = phrases[i]
            while j < n and phrases[j] == p:
                j += 1
            self.loc[p] = (i, j - i)
            ft, _, ln = p.partition(" ")
            nt = p.count(" ") + 1
            if nt > self.first_max.get(ft, 0):
                self.first_max[ft] = nt
            i = j
        self._memo: dict[str, list[Place]] = {}

    def _places(self, phrase: str) -> list[Place]:
        hit = self._memo.get(phrase)
        if hit is None:
            from .matcher import CANDIDATE_CAP
            start, cnt = self.loc[phrase]
            sl = self._tbl.slice(start, cnt)
            if cnt > CANDIDATE_CAP:
                # O6 candidate cap (matcher.CANDIDATE_CAP): select top-bias
                # rows from the Arrow column BEFORE hydration, so a
                # pathological 10^5-row phrase never materializes in full;
                # stable argsort keeps artifact order on bias ties (same
                # capped set as the mmap/in-memory paths)
                bias = sl.column("id_bias").to_numpy(zero_copy_only=False)
                keep = np.sort(np.argsort(-bias, kind="stable")
                               [:CANDIDATE_CAP])
                rows = sl.take(keep).to_pylist()
                hit = sorted((Place(*[r[c] for c in _COLS]) for r in rows),
                             key=lambda p: -p.id_bias)
            else:
                hit = [Place(*[r[c] for c in _COLS])
                       for r in sl.to_pylist()]
            if len(self._memo) > 200_000:   # bound worker memory growth
                self._memo.clear()
            self._memo[phrase] = hit
        return hit

    def _lookup(self, phrase: str) -> list[Place] | None:
        return self._places(phrase) if phrase in self.loc else None

    def scan(self, text: str, toks: Tokens = None
             ) -> list[tuple[int, int, str, list]]:
        return scan_phrases(text, toks, self.first_max, self._lookup,
                            self.TAG_LIMIT)


class CompactSpatialIndex:
    """Array-backed 0.5° grid over a tagger parquet's located P/A rows —
    the scale twin of ``spatial.SpatialIndex`` (which builds Place objects;
    fine for broadcast-row gazetteers, too heavy per worker at 1M+ rows).

    Columns live once as numpy arrays; grid cells hold int32 row indices;
    candidate distances compute vectorized; Place objects materialize only
    for returned results.  Same query contract as SpatialIndex.
    """

    def __init__(self, path: str):
        import pyarrow.parquet as pq
        import pyarrow.compute as pc
        tbl = pq.read_table(path, columns=_COLS)
        # full parity with SpatialIndex.__init__ build filters: valid
        # lat AND lon, P/A class, non-empty cc, no country centroids
        # (round-2 review: the missing cc/lon checks let this path return
        # rows the broadcast path never would)
        cc_col = tbl.column("cc")
        keep = pc.and_(
            pc.and_(pc.is_valid(tbl.column("lat")),
                    pc.is_valid(tbl.column("lon"))),
            pc.and_(
                pc.and_(pc.is_in(tbl.column("feat_class"),
                                 value_set=__import__("pyarrow").array(["P", "A"])),
                        pc.invert(pc.starts_with(tbl.column("feat_code"), "PCL"))),
                pc.and_(pc.is_valid(cc_col),
                        pc.not_equal(cc_col, ""))))
        tbl = tbl.filter(keep).combine_chunks()
        self._tbl = tbl
        self.lat = tbl.column("lat").to_numpy(zero_copy_only=False)
        self.lon = tbl.column("lon").to_numpy(zero_copy_only=False)
        ci = np.floor(self.lat / 0.5).astype(np.int32)
        cj = np.floor(self.lon / 0.5).astype(np.int32)
        cell = ci.astype(np.int64) * 1_000_003 + cj
        order = np.argsort(cell, kind="stable")
        sc = cell[order]
        bounds = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1], True])
        self.grid: dict[int, np.ndarray] = {
            int(sc[bounds[k]]): order[bounds[k]:bounds[k + 1]]
            for k in range(len(bounds) - 1)}

    def _cand(self, lat: float, lon: float, reach: int) -> np.ndarray:
        ci, cj = int(np.floor(lat / 0.5)), int(np.floor(lon / 0.5))
        parts = [self.grid.get((ci + di) * 1_000_003 + (cj + dj))
                 for di in range(-reach, reach + 1)
                 for dj in range(-reach, reach + 1)]
        parts = [p for p in parts if p is not None]
        return np.concatenate(parts) if parts else np.empty(0, np.int64)

    def places_at(self, lat: float, lon: float, radius_km: float = 50,
                  limit: int = 5) -> list[tuple[float, Place]]:
        import math
        idx = self._cand(lat, lon, max(1, int(math.ceil(radius_km / 55.0))))
        if not len(idx):
            return []
        la, lo = np.radians(self.lat[idx]), np.radians(self.lon[idx])
        qa, qo = math.radians(lat), math.radians(lon)
        a = (np.sin((la - qa) / 2) ** 2
             + math.cos(qa) * np.cos(la) * np.sin((lo - qo) / 2) ** 2)
        d = 2 * 6_371_000.0 * np.arcsin(np.sqrt(a))
        ok = d <= radius_km * 1000
        idx, d = idx[ok], d[ok]
        out = []
        seen: set[str] = set()
        # tagger parquet has one row PER NAME; dedup to one entry per
        # place_id like spatial.SpatialIndex does at build time.  Batched
        # take() over GROWING prefixes of the sorted order: dense metros
        # can have thousands of in-radius name rows, but limit=5 unique
        # places usually resolve within the first few dozen (review
        # finding: a single full take() lost the early-exit bound).
        order = np.argsort(d, kind="stable")
        pos = 0
        chunk = max(limit * 4, 16)
        while pos < len(order) and len(out) < limit:
            sel = order[pos:pos + chunk]
            rows = self._tbl.take(idx[sel]).to_pylist()
            for k, row in zip(sel, rows):
                if row["place_id"] in seen:
                    continue
                seen.add(row["place_id"])
                out.append((float(d[k]), Place(*[row[c] for c in _COLS])))
                if len(out) >= limit:
                    break
            pos += chunk
            chunk *= 4
        return out
