"""PlaceGeocoder-equivalent: gazetteer tagging -> rules -> chosen locations.

Orchestrates the per-turn pipeline traced in SURVEY.md §3.1
(PlaceGeocoder.extract, PlaceGeocoder.java:446-544):

  1. tag gazetteer candidates (matcher, filters F1-F10)
  2. tag taxons (person/org/nationality); nationalities put countries in scope
  3. person/org negation (F13)
  4. CountryRule, NameCodeRule (J2) — qualification may resurrect candidates
  5. MajorPlace, ProvinceAssoc, CoordinateAssoc (J3), HeatMap (A4)
  6. LocationChooser: final scalars, argmax top-2, confidence (K11-K13)
  7. related-name merge (J7): 'NAME, ADMIN' emits one merged span

Pure per-turn function given module-level reference data — runs inside the
same mapInPandas stage as the FlexPat families; the gazetteer index builds
once per executor process.
"""

from __future__ import annotations

from .matcher import (  # noqa: F401
    Place,
    PlaceCandidate,
    gaz_index,
    set_gazetteer,
    tag_places,
    tag_taxons,
)
from . import rules as R
from . import data


def geocode(text: str, coords: list[tuple[float, float]] | None = None,
            features: tuple = ("places", "countries", "taxons", "postal"),
            prefer_countries: list[str] | None = None,
            prefer_locations: list[tuple[float, float]] | None = None,
            emit_filtered: bool = False,
            match_filter: frozenset[str] | None = None) -> list[dict]:
    """Per-turn geotagging; returns flat match dicts (schemas.MATCH_STRUCT
    field subset).  ``coords`` are (lat, lon) pairs from XCoord for the
    coordinate-association rule.  ``prefer_countries`` (ISO2) and
    ``prefer_locations`` ((lat, lon) pairs) are the Xlayer request options
    ``preferred_countries`` / ``preferred_locations``
    (TaggerResource.java:176-224): K11 scores preferred country +0.5 and
    preferred-location geohash prefix +1.0 (LocationChooserRule.java:186-295),
    K13 adds +5 confidence for a preferred choice."""
    from .matcher import TokenView
    view = TokenView(text)       # tokenize once, share both scans
    if not view.norms:
        return []
    cands = tag_places(text, toks=view)
    # F8 user MatchFilter (MatchFilter.filterOut(value); applied at tag
    # time, GazetteerMatcher.java:236-238,529-535): caller-supplied stop
    # set compared against the normalized match text
    if match_filter:
        for c in cands:
            if not c.filtered_out and c.textnorm in match_filter:
                c.filtered_out = True
                c.filter_reason = "user-filter"
    taxons = tag_taxons(text, toks=view)
    scope = R.Scope()
    scope.set_preferences(prefer_countries, prefer_locations)

    for _s, _e, _m, kind, _canon, cc in taxons:
        if kind == "nationality" and cc:
            scope.country(cc, mentioned=True)

    R.default_score_rule(cands)
    R.person_org_filter(cands, taxons, text)
    R.country_rule(cands, scope)
    R.name_code_rule(cands, scope, text)
    R.name_rule(cands, text)
    R.contextual_org_rule(cands, scope)
    R.major_place_rule(cands, scope)
    R.province_association_rule(cands, scope)
    R.coordinate_association_rule(cands, coords or [], scope)
    R.heatmap_rule(cands)
    R.location_chooser_rule(cands, scope)

    # qualified candidates (NAME,CODE or 'city of X') suppress their
    # person-taxon twin ('Jackson MISS' is a place, not a person)
    import bisect
    resurrected = sorted((c.start, c.merged_end or c.end) for c in cands
                         if not c.filtered_out
                         and (c.linked_admin is not None
                              or any(r.startswith("NameRule") for r in c.rules)))
    res_starts = [s for s, _e in resurrected]
    max_res = max((e - s for s, e in resurrected), default=0)

    def _covered(t0: int, t1: int) -> bool:
        lo = bisect.bisect_left(res_starts, t0 - max_res)
        hi = bisect.bisect_right(res_starts, t0)
        return any(s <= t0 and t1 <= e for s, e in resurrected[lo:hi])

    taxons = [t for t in taxons
              if not (t[3] == "person" and _covered(t[0], t[1]))]

    out: list[dict] = []
    if "places" in features or "countries" in features:
        for c in cands:
            if c.filtered_out or not c.chosen:
                # the Xlayer 'filtered_out' request option: emit killed
                # candidates for debugging, marked with the filter reason
                # (XponentsGeotagger.java:207-251)
                if emit_filtered and c.filtered_out:
                    out.append({
                        "span_start": c.start, "span_end": c.end,
                        "matchtext": text[c.start:c.end], "label": "place",
                        "pattern_id": None, "filtered_out": True,
                        "method": c.filter_reason or None,
                    })
                continue
            p = c.chosen
            label = "country" if (c.is_country and p.is_country) else "place"
            if label == "country" and "countries" not in features:
                continue
            if label == "place" and "places" not in features:
                continue
            end = c.merged_end if c.merged_end else c.end
            # abbreviation absorbs its trailing period: 'U.S.' not 'U.S'
            # (code/abbrev gate, GazetteerMatcher.java:723-763)
            if c.is_abbreviation and text[end:end + 1] == ".":
                end += 1
            from ..functions.geo import geohash_encode
            out.append({
                "span_start": c.start, "span_end": end,
                "matchtext": text[c.start:end], "label": label,
                "pattern_id": None, "filtered_out": False,
                "confidence": c.confidence,
                "lat": p.lat, "lon": p.lon, "prec": R.feat_precision(p),
                "geohash": geohash_encode(p.lat, p.lon, 6),
                "cc": p.cc, "adm1": p.adm1 or None,
                # ProvinceNameSetter (PlaceGeocoder.java:523-525): resolve
                # the ADM1 code to its display name ('province-name',
                # Transforms.java:226)
                "adm1_name": data.ADM1_NAMES.get(p.hierarchical_path),
                "feat_class": p.feat_class, "feat_code": p.feat_code,
                "place_id": p.place_id, "name": p.name,
                # K12 top-2: the runner-up the chooser rejected, plus how
                # far behind it would land if chosen (tie detection signal)
                "alt_place_id": c.second.place_id if c.second else None,
                "alt_cc": c.second.cc if c.second else None,
                "alt_conf_delta": c.alt_conf_delta,
                "method": ";".join(sorted(c.rules)) or None,
            })
    if "postal" in features:
        from .postal import tag_postals
        out.extend(tag_postals(text, cands, set(scope.countries)))
    if "taxons" in features:
        for s, e, mtext, kind, canonical, cc in taxons:
            out.append({
                "span_start": s, "span_end": e, "matchtext": mtext,
                "label": kind, "pattern_id": None, "filtered_out": False,
                "confidence": 75, "cc": cc,
                "taxon": canonical,
                "catalog": {"person": "person_names", "org": "JRC",
                            "nationality": "nationality"}[kind],
            })
    out.sort(key=lambda r: (r["span_start"], r["span_end"], r["label"]))
    return out


def country_histogram(matches: list[dict]) -> dict[str, int]:
    """A1: per-turn country mention histogram
    (PlaceGeocoder.java:400-411,716-745)."""
    counts: dict[str, int] = {}
    for m in matches:
        cc = m.get("cc")
        if cc and m["label"] in ("place", "country"):
            counts[cc] = counts.get(cc, 0) + 1
    return counts
