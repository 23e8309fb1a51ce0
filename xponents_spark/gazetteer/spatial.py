"""Reverse geocoding: broadcast spatial grid index (SURVEY.md §2.5 J4, §2.8 O3/O4).

The reference answers ``placesAt(latlon, radiusKM)`` with a Solr
``{!geofilt}`` query (SolrGazetteer.java:131-159) and resolves each found
coordinate to its nearest populated place (top-5 nearby, 25/50 km fallbacks,
PlaceGeocoder.java:874-978).  Here the gazetteer artifact buckets its
located rows into a 0.5-degree grid (~55 km cells, compiled with the
phrase table, ``mmapstore.MmapSpatialIndex``); a query scans the cells
that can hold a place within its radius (``cells_near``) and ranks by
haversine — a broadcast spatial range join.
"""

from __future__ import annotations

import math

from . import data
from .tables import spatial_index

_CELL_DEG = 0.5
_RING = int(360 / _CELL_DEG)       # longitude cells around a parallel


def _wrap(cj):
    """Longitude cell index (or array of them) wrapped into [-_RING/2,
    _RING/2): the cells either side of ±180° are neighbours."""
    return (cj + _RING // 2) % _RING - _RING // 2


def cell_reach(lat: float, radius_km: float) -> tuple[int, int]:
    """Cells to scan on each side of the query's cell, (lat, lon), so that
    every place within ``radius_km`` is a candidate.  A cell is ~55 km
    tall but only ~55·cos(lat) km wide, so the longitude reach grows
    toward the poles; past the point where the radius circles the pole it
    is the whole ring."""
    ri = max(1, int(math.ceil(radius_km / 55.0)))
    # no candidate lies poleward of this latitude (ri cells >= radius)
    band = abs(lat) + ri * _CELL_DEG
    if band >= 90.0:
        return ri, _RING
    # two points on or equatorward of ``band``, dlon apart, are at least
    # 2R·asin(cos(band)·sin(dlon/2)) apart; the smaller R over-reaches
    s = math.sin(radius_km / (2 * 6371.0)) / math.cos(math.radians(band))
    if s >= 1.0:
        return ri, _RING
    dlon = math.degrees(2 * math.asin(s))
    return ri, max(1, int(math.ceil(dlon / _CELL_DEG)))


def cells_near(lat: float, lon: float,
               radius_km: float) -> list[tuple[int, int]]:
    """The grid cells that can hold a place within ``radius_km`` of
    (lat, lon), each once, wrapping at ±180°."""
    ci, cj = math.floor(lat / _CELL_DEG), math.floor(lon / _CELL_DEG)
    ri, rj = cell_reach(lat, radius_km)
    cols = {_wrap(cj + dj) for dj in range(-rj, rj + 1)}
    return [(ci + di, c) for di in range(-ri, ri + 1) for c in cols]


def reverse_geocode(lat: float, lon: float) -> dict:
    """Coordinate -> related-place attributes for the coord match
    (Transforms.java geo fields related_place_name / nearest_places).

    ``nearest_places``: top-5 place names within 50 km, nearest first
    (PlaceGeocoder.java:917-941 emits max 5 nearby places per coordinate).
    ``adm1_name``: ProvinceNameSetter resolution for the related place."""
    # ONE grid query serves both the nearest-place choice (populated place
    # at 25 km, P/A fallback at 50 km — PlaceGeocoder.java:898-978) and the
    # top-5 name list; three separate radius queries per coordinate showed
    # up in the round-2 bench
    near = spatial_index().places_at(lat, lon, 50, limit=10)
    if not near:
        return {}
    p = next((q for d, q in near if d <= 25_000 and q.feat_class == "P"),
             None)
    if p is None:
        p = next((q for _d, q in near if q.feat_class in ("P", "A")), None)
    if p is None:
        return {}
    return {"cc": p.cc, "adm1": p.adm1 or None, "name": p.name,
            "place_id": p.place_id,
            "adm1_name": data.ADM1_NAMES.get(p.hierarchical_path),
            "nearest_places": [q.name for _d, q in near[:5]] or None}
