"""Geodetic kernel: geohash, haversine, UTM/MGRS <-> lat/lon (WGS84).

The reference delegates these to GeodeticUtility / pygeodesy
(``doc/pydoc/opensextant/extractors/xcoord.html`` imports pygeodesy Mgrs/Utm;
geohash used at ``src/main/java/org/opensextant/extractors/geo/rules/
GeocodeRule.java:169-173``).  Neither library ships in this environment, so
the conversions below implement the standard published Snyder/USGS
transverse-Mercator series and the MGRS "AA" 100 km lettering scheme.
Accuracy of the UTM series is < 1 cm — far below coordinate-match precision.
"""

from __future__ import annotations

import math

# --- geohash ----------------------------------------------------------------

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


_GH_CACHE: dict[tuple, str] = {}


def geohash_encode(lat: float, lon: float, precision: int = 6) -> str:
    """Standard geohash (public algorithm, Niemeyer 2008).  Memoized —
    gazetteer/coordinate hot paths re-encode the same points constantly."""
    key = (lat, lon, precision)
    hit = _GH_CACHE.get(key)
    if hit is not None:
        return hit
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for i in range(0, len(bits), 5):
        n = 0
        for b in bits[i:i + 5]:
            n = (n << 1) | b
        out.append(_BASE32[n])
    gh = "".join(out)
    if len(_GH_CACHE) < 1 << 16:
        _GH_CACHE[key] = gh
    return gh


# mean earth radius (IUGG), the one radius every distance in metres uses
EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle distance in meters (GeodeticUtility.distanceMeters,
    used at rules/CoordinateAssociationRule.java:109)."""
    r = EARTH_RADIUS_M
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


# --- UTM (WGS84, Snyder series) ----------------------------------------------

_A = 6378137.0
_F = 1 / 298.257223563
_E2 = _F * (2 - _F)
_EP2 = _E2 / (1 - _E2)
_K0 = 0.9996
_E4 = _E2 * _E2
_E6 = _E4 * _E2


def ll_to_utm(lat: float, lon: float) -> tuple[int, str, float, float]:
    """Forward conversion -> (zone, band, easting, northing)."""
    zone = int((lon + 180) // 6) + 1
    zone = min(60, max(1, zone))
    band = _lat_band(lat)
    lon0 = math.radians((zone - 1) * 6 - 180 + 3)
    phi = math.radians(lat)
    lam = math.radians(lon)
    n = _A / math.sqrt(1 - _E2 * math.sin(phi) ** 2)
    t = math.tan(phi) ** 2
    c = _EP2 * math.cos(phi) ** 2
    a = math.cos(phi) * (lam - lon0)
    m = _meridional_arc(phi)
    east = _K0 * n * (a + (1 - t + c) * a ** 3 / 6
                      + (5 - 18 * t + t * t + 72 * c - 58 * _EP2) * a ** 5 / 120) + 500000.0
    north = _K0 * (m + n * math.tan(phi) * (a * a / 2
                   + (5 - t + 9 * c + 4 * c * c) * a ** 4 / 24
                   + (61 - 58 * t + t * t + 600 * c - 330 * _EP2) * a ** 6 / 720))
    if lat < 0:
        north += 10000000.0
    return zone, band, east, north


def utm_to_ll(zone: int, northern: bool, easting: float, northing: float) -> tuple[float, float]:
    """Inverse conversion (Snyder 1987 eq. 8-17..8-25)."""
    x = easting - 500000.0
    y = northing - (0.0 if northern else 10000000.0)
    m = y / _K0
    mu = m / (_A * (1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256))
    e1 = (1 - math.sqrt(1 - _E2)) / (1 + math.sqrt(1 - _E2))
    phi1 = (mu
            + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * math.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * math.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * math.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * math.sin(8 * mu))
    sin1, cos1, tan1 = math.sin(phi1), math.cos(phi1), math.tan(phi1)
    c1 = _EP2 * cos1 * cos1
    t1 = tan1 * tan1
    n1 = _A / math.sqrt(1 - _E2 * sin1 * sin1)
    r1 = _A * (1 - _E2) / (1 - _E2 * sin1 * sin1) ** 1.5
    d = x / (n1 * _K0)
    lat = phi1 - (n1 * tan1 / r1) * (
        d * d / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * _EP2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * _EP2 - 3 * c1 * c1) * d ** 6 / 720)
    lon0 = math.radians((zone - 1) * 6 - 180 + 3)
    lon = lon0 + (d - (1 + 2 * t1 + c1) * d ** 3 / 6
                  + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * _EP2 + 24 * t1 * t1)
                  * d ** 5 / 120) / cos1
    return math.degrees(lat), math.degrees(lon)


def _meridional_arc(phi: float) -> float:
    return _A * ((1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256) * phi
                 - (3 * _E2 / 8 + 3 * _E4 / 32 + 45 * _E6 / 1024) * math.sin(2 * phi)
                 + (15 * _E4 / 256 + 45 * _E6 / 1024) * math.sin(4 * phi)
                 - (35 * _E6 / 3072) * math.sin(6 * phi))


_BANDS = "CDEFGHJKLMNPQRSTUVWX"


def _lat_band(lat: float) -> str:
    if lat < -80 or lat > 84:
        raise ValueError(f"latitude {lat} outside UTM bands")
    idx = min(19, int((lat + 80) // 8))
    return _BANDS[idx]


def band_is_north(band: str) -> bool:
    return band.upper() >= "N"


# --- MGRS ("AA" / MGRS-New lettering) ----------------------------------------

_COL_LETTERS = "ABCDEFGHJKLMNPQRSTUVWXYZ"   # 24, no I/O
_ROW_LETTERS = "ABCDEFGHJKLMNPQRSTUV"       # 20, no I/O


def mgrs_to_ll(zone: int, band: str, quad: str, easting: float, northing: float) -> tuple[float, float]:
    """MGRS grid reference -> lat/lon.

    ``quad`` is the two-letter 100 km square id; ``easting``/``northing`` are
    meters within the square.  The 2,000,000 m row-letter ambiguity resolves
    against the latitude band's minimum northing.
    """
    band = band.upper()
    col, row = quad[0].upper(), quad[1].upper()
    set_idx = (zone - 1) % 3                      # column letters cycle A-H, J-R, S-Z
    col_idx = _COL_LETTERS.index(col) - set_idx * 8
    if not 0 <= col_idx < 8:
        raise ValueError(f"column letter {col} invalid for zone {zone}")
    e100k = (col_idx + 1) * 100000.0
    row_off = 0 if zone % 2 == 1 else 5           # even zones start at F
    row_idx = (_ROW_LETTERS.index(row) - row_off) % 20
    n100k = row_idx * 100000.0

    # minimum northing of the latitude band (forward-convert band bottom)
    lat_min = -80.0 + 8 * _BANDS.index(band)
    _z, _b, _e, n_min = ll_to_utm(max(lat_min, -79.999), 3.0 + (zone - 1) * 6 - 180)
    if lat_min < 0:
        n_min -= 10000000.0                       # work in signed northing
    # smallest value congruent to n100k (mod 2,000,000) with its 100 km square
    # intersecting the band (square may straddle the band bottom by < 100 km)
    n2m = n100k + 2000000.0 * math.ceil((n_min - n100k - 100000.0) / 2000000.0)
    northern = (n2m + northing) >= 0
    n_final = n2m + northing + (0.0 if northern else 10000000.0)
    return utm_to_ll(zone, northern, e100k + easting, n_final)


def ll_to_mgrs(lat: float, lon: float, precision: int = 5) -> str:
    """Lat/lon -> MGRS string (testing aid + GeocoordMatch.toMGRS parity)."""
    zone, band, east, north = ll_to_utm(lat, lon)
    set_idx = (zone - 1) % 3
    col = _COL_LETTERS[set_idx * 8 + int(east // 100000) - 1]
    row_off = 0 if zone % 2 == 1 else 5
    signed_n = north if lat >= 0 else north - 10000000.0
    row = _ROW_LETTERS[(int(math.floor(signed_n / 100000)) + row_off) % 20]
    e_rem = int(east % 100000 / 10 ** (5 - precision))
    n_rem = int(signed_n % 100000 / 10 ** (5 - precision))
    return f"{zone}{band}{col}{row}{e_rem:0{precision}d}{n_rem:0{precision}d}"
