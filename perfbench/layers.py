"""Per-layer timings inside the extraction worker, measured in-process.

Each layer's public function runs over the same seeded sample of the
workload's own texts, single-threaded, one layer at a time, with the
layers fed exactly what ``pipeline.extract_turn`` feeds them (the main
text, one shared ``ScanCtx``).  ``assembly`` is ``extract_turn``'s self
time: the full call minus the layers it calls, among them the reverse
geocode of every kept coordinate.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

from xponents_spark.extractors.poli import extract_poli
from xponents_spark.extractors.xcoord import extract_coordinates
from xponents_spark.extractors.xtemporal import extract_dates
from xponents_spark.flexpat import ScanCtx
from xponents_spark.gazetteer import geocode, tag_places, tag_taxons
from xponents_spark.gazetteer.matcher import (TagLimitExceeded,
                                              tokens_with_offsets)
from xponents_spark.gazetteer.spatial import reverse_geocode
from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn
from xponents_spark.textract import extract_main_content

GEO_FEATURES = ("places", "countries", "taxons", "postal")


@contextmanager
def frozen_heap():
    """Keep the caller's live objects (inputs, check rows) out of the
    cyclic collector while timing.  The collections ``extract_turn``
    triggers then traverse about what a Spark worker's would."""
    gc.collect()
    gc.freeze()
    try:
        yield
    finally:
        gc.unfreeze()


def _tag(main: str):
    toks = tokens_with_offsets(main)
    if not toks:
        return 0, False
    try:
        cands = tag_places(main, toks=toks)
        tag_taxons(main, toks=toks)
    except TagLimitExceeded:
        return 0, True
    return len(cands), False


def _geocode(args) -> int:
    main, coords = args
    try:
        return sum(g["label"] in ("place", "country")
                   for g in geocode(main, coords=coords,
                                    features=GEO_FEATURES))
    except TagLimitExceeded:
        return 0


def layer_metrics(texts: list[str], tracer, rounds: int = 5) -> dict:
    """Per-layer metrics over ``texts``.  Each round runs every layer once,
    in ``extract_turn``'s order; each layer reports its best round, so a
    host that speeds up or slows down during the run moves every layer
    alike."""
    n = len(texts)
    us = 1e6 / n
    best: dict[str, float] = {}

    def timed(name, fn, items):
        with tracer.span(name, rows=len(items)) as sp:
            t0 = time.perf_counter()
            res = [fn(x) for x in items]
            sp["counts"]["s"] = dt = time.perf_counter() - t0
        best[name] = min(best.get(name, dt), dt)
        return res

    for t in texts[:8]:                       # pattern compile, index build
        extract_turn(t, DEFAULT_FEATURES)
    with tracer.span("layers", rows=n), frozen_heap():
        for _ in range(rounds):
            mains = timed("textract", extract_main_content, texts)
            # the three families share one fresh ScanCtx per text, as in
            # extract_turn
            pairs = [(m, ScanCtx(m)) for m in mains]
            xc = timed("xcoord", lambda p: extract_coordinates(
                p[0], ctx=p[1]), pairs)
            xt = timed("xtemporal", lambda p: extract_dates(
                p[0], ctx=p[1]), pairs)
            po = timed("poli", lambda p: extract_poli(p[0], ctx=p[1]), pairs)
            tags = timed("gazetteer.tag", _tag, mains)
            coords = [[(m.attrs["lat"], m.attrs["lon"]) for m in ms
                       if not m.filtered_out] for ms in xc]
            emitted = timed("gazetteer.geocode", _geocode,
                            list(zip(mains, coords)))
            timed("gazetteer.revgeo",
                  lambda cs: [reverse_geocode(*c) for c in cs], coords)
            turns = timed("extract_turn",
                          lambda t: extract_turn(t, DEFAULT_FEATURES), texts)
    layer_s = sum(best[k] for k in ("textract", "xcoord", "xtemporal", "poli",
                                    "gazetteer.geocode", "gazetteer.revgeo"))
    out = {
        "textract.us_per_row": best["textract"] * us,
        "textract.chars_kept_frac":
            sum(map(len, mains)) / max(1, sum(map(len, texts))),
        "gazetteer.tag_us_per_row": best["gazetteer.tag"] * us,
        "gazetteer.geocode_us_per_row": best["gazetteer.geocode"] * us,
        "gazetteer.revgeo_us_per_row": best["gazetteer.revgeo"] * us,
        "gazetteer.cands_per_row": sum(c for c, _lim in tags) / n,
        "gazetteer.emitted_frac":
            sum(emitted) / max(1, sum(c for c, _lim in tags)),
        "gazetteer.tag_limit_rows": sum(lim for _c, lim in tags),
        "pipeline.extract_turn_us_per_row": best["extract_turn"] * us,
        "pipeline.assembly_us_per_row": (best["extract_turn"] - layer_s) * us,
        "pipeline.matches_per_row": sum(len(r) for _m, r in turns) / n,
    }
    for name, res in (("xcoord", xc), ("xtemporal", xt), ("poli", po)):
        returned = sum(map(len, res))
        kept = sum(not m.filtered_out for ms in res for m in ms)
        out[f"{name}.us_per_row"] = best[name] * us
        out[f"{name}.matches_per_krow"] = kept * 1000 / n
        out[f"{name}.kept_frac"] = kept / max(1, returned)
    return out
