"""Deterministic entity payload classes for synthetic transcripts.

Each ``doc_id`` maps to payload class ``doc_id % NUM_PAYLOADS``.  For normal
classes the turn text is ``documents.text + " " + payload``; for the ``html``
class the document text is wrapped in boilerplate markup (FIXTURES.md class
9).  Payload content clones the reference's published examples:
coordinate families from ``/root/reference/doc/XCoord.md:40-95``, date
families from ``doc/Patterns.md:55-66``, geocoder probes from
``src/test/resources/data/placename-tests.txt``.

``EXPECTED`` pins the extraction fixture per class: matches with offsets
relative to the payload start.  Values were generated by the extractors and
frozen after hand-verification against the unit-test value tables
(tests/test_xcoord.py, tests/test_xtemporal.py); tests/test_payloads.py
asserts extractor output still equals these pins — this is the
reference-derived fixture contract the north rule requires.
"""

from __future__ import annotations

# class index -> (name, payload text)
PAYLOADS: list[tuple[str, str]] = [
    ("plain", "just an ordinary sentence with no entities at all"),
    ("coord_dd", "position 39.56N, 123.45W reported"),
    ("coord_dd_signed", "anchor +42.3°; -102.4° fixed"),
    ("coord_dm", "grid 4218.009N 10224.003W checked"),
    ("coord_dms", "site 01°44'55.5\"N 101°22'33.0\"E secured"),
    ("coord_mgrs", "moving to 38SMB4611036560 now"),
    ("coord_utm", "utm ref 17N 699990 3333335 logged"),
    ("date_mdy", "meeting on 09/22/2017 confirmed"),
    ("date_dmy", "as of 22 SEPT 2017 complete"),
    ("date_ymd", "deadline 2017-09-22 noted"),
    ("date_dtm", "ts 2017-09-22T07:00-05:00 recorded"),
    ("poli_contact", "contact ops@example.org or (703) 555-1212 today"),
    ("poli_money_ip", "cost $1,234.56 from host 10.0.0.5 verified"),
    ("place_qualified", "travel to San Diego, CA next week"),
    ("place_bare", "the London office called"),
    ("person_org", "Is the YMCA nearby when I'll be in Cleveland?"),
    ("html", None),  # special: wraps the document text in boilerplate HTML
    ("mixed", "rendezvous 42.3N; 102.4W on 3 JUN 2021 call +1 (800) 555-0199"),
    ("country_mention", "shipped from Brazil yesterday"),
    ("nationality", "the Iraqi delegation arrived in Falluja"),
    ("postal", "parcel to Paddington NSW 2021 sent"),
    ("cjk", "我想去北京旅游"),
    ("arabic", "الهجوم في بغداد أمس"),
    # J4 probe: coordinate within the spatial index's 25 km ring of a
    # gazetteer city -> reverse geocode enriches the coord match
    ("coord_near_city", "checkpoint at 51.5074N, 0.1278W noted"),
    # euro-locale disambiguation: day>12 forces DMY (xtemporal.html L95-178)
    ("date_euro_ambiguous", "delivery 13/04/2021 scheduled"),
    # MGRS/date collision trap: no coordinate, no date (MGRSFilter semantics)
    ("mgrs_date_trap", "signed 30JAN09 by hq"),
    # lowercase qualified place (TagFilter case handling + NameCode)
    ("place_lowercase", "wired from texas, us yesterday"),
    # VIC postal association (postal-addresses.json AUS-02 class)
    ("postal_vic", "invoice to SPRINGVALE VIC 3171 today"),
    # DateMatch classifier flags (DateMatch.html isDistantPast/isFuture
    # relative to the engine's pinned TODAY; threshold 1900-01-01)
    ("date_distant_past", "born 14 JUN 1899 in the village"),
    ("date_future", "launch window 2031-05-01 planned"),
]

NUM_PAYLOADS = len(PAYLOADS)
HTML_CLASS = 16

HTML_PREFIX = ("<html><head><title>t</title><script>var x=1;</script></head>"
               "<body><nav>Home | About | <a href=\"/x\">Links</a></nav><p>")
HTML_SUFFIX = "</p><footer>(c) 2024 example.org</footer></body></html>"

# pinned extraction fixtures: class index -> list of match dicts with
# payload-relative offsets.  Regenerate with tools/gen_payload_fixtures.py
# only when extractor semantics intentionally change.
EXPECTED: dict[int, list[dict]] = {}  # populated below by _FROZEN


def compute_expected() -> dict[int, list[dict]]:
    """Run the FULL per-turn pipeline over each payload and produce the
    fixture rows (payload-relative offsets).  Used by the generator script
    and the fixture-drift test — fixtures therefore cover every feature the
    pipeline emits (coords, dates, poli, places, countries, taxons).
    "slots" is requested explicitly: the default hot path omits the per-match
    slot map (payload weight), but the fixtures keep pinning slot semantics
    so the FlexPat group digestion stays drift-gated."""
    from ..pipeline import DEFAULT_FEATURES, extract_turn

    out: dict[int, list[dict]] = {}
    for idx, (_name, text) in enumerate(PAYLOADS):
        if text is None:
            out[idx] = []
            continue
        _main, rows = extract_turn(text, DEFAULT_FEATURES + ("slots",))
        fixed = []
        for r in rows:
            d = {"rel_start": r["span_start"], "rel_end": r["span_end"]}
            for k, v in r.items():
                if k in ("span_start", "span_end", "filtered_out") or v is None:
                    continue
                d[k] = v
            fixed.append(d)
        out[idx] = fixed
    return out


_FROZEN: dict[int, list[dict]] = {
    0: [  # plain
    ],
    1: [  # coord_dd
        {'rel_start': 9, 'rel_end': 24, 'matchtext': '39.56N, 123.45W', 'label': 'coord', 'pattern_id': 'DD-02', 'lat': 39.56, 'lon': -123.45, 'prec': 1110, 'geohash': '9r01nc', 'method': 'DD-02', 'slots': {'decDegLat': '39.56', 'hemiLat': 'N', 'latlonSep': ', ', 'decDegLon': '123.45', 'hemiLon': 'W'}},
    ],
    2: [  # coord_dd_signed
        {'rel_start': 7, 'rel_end': 22, 'matchtext': '+42.3°; -102.4°', 'label': 'coord', 'pattern_id': 'DD-03', 'lat': 42.3, 'lon': -102.4, 'prec': 11100, 'geohash': '9xx0tu', 'method': 'DD-03', 'slots': {'hemiLatSign': '+', 'decDegLat': '42.3', 'latlonSep': '; ', 'hemiLonSign': '-', 'decDegLon': '102.4'}},
    ],
    3: [  # coord_dm
        {'rel_start': 5, 'rel_end': 25, 'matchtext': '4218.009N 10224.003W', 'label': 'coord', 'pattern_id': 'DM-02a', 'lat': 42.30015, 'lon': -102.40005, 'prec': 1, 'geohash': '9xx0tu', 'method': 'DM-02a', 'slots': {'dmsDegLat': '42', 'dmsMinLat': '18', 'fractMinLat': '009', 'hemiLat': 'N', 'latlonSep': ' ', 'dmsDegLon': '102', 'dmsMinLon': '24', 'fractMinLon': '003', 'hemiLon': 'W'}},
    ],
    4: [  # coord_dms
        {'rel_start': 5, 'rel_end': 31, 'matchtext': '01°44\'55.5"N 101°22\'33.0"E', 'label': 'coord', 'pattern_id': 'DMS-01fs-a', 'lat': 1.74875, 'lon': 101.37583333333333, 'prec': 3, 'geohash': 'w221fy', 'method': 'DMS-01fs-a', 'slots': {'dmsDegLat': '01', 'dmsMinLat': '44', 'dmsSecLat': '55', 'fractSecLat': '5', 'hemiLat': 'N', 'latlonSep': ' ', 'dmsDegLon': '101', 'dmsMinLon': '22', 'dmsSecLon': '33', 'fractSecLon': '0', 'hemiLon': 'E'}},
    ],
    5: [  # coord_mgrs
        {'rel_start': 10, 'rel_end': 25, 'matchtext': '38SMB4611036560', 'label': 'coord', 'pattern_id': 'MGRS-01', 'lat': 32.865829909394506, 'lon': 44.42399132898372, 'prec': 1, 'geohash': 'svzdfz', 'method': 'MGRS-01', 'slots': {'MGRSZone': '38S', 'MGRSQuad': 'MB', 'Easting_Northing': '4611036560'}},
    ],
    6: [  # coord_utm
        {'rel_start': 8, 'rel_end': 26, 'matchtext': '17N 699990 3333335', 'label': 'coord', 'pattern_id': 'UTM-01', 'lat': 30.114896139293016, 'lon': -78.92427224201485, 'prec': 1, 'geohash': 'djrgk4', 'method': 'UTM-01', 'slots': {'UTMZone': '17', 'UTMBand': 'N', 'UTMEasting': '699990', 'UTMNorthing': '3333335'}},
    ],
    7: [  # date_mdy
        {'rel_start': 11, 'rel_end': 21, 'matchtext': '09/22/2017', 'label': 'date', 'pattern_id': 'MDY-01', 'method': 'MDY-01', 'date_norm': '2017-09-22', 'epoch': 1506038400, 'resolution': 'D', 'slots': {'DM1': '09', 'DSEP1': '/', 'DM2': '22', 'DSEP2': '/', 'YEAR': '2017'}},
    ],
    8: [  # date_dmy
        {'rel_start': 6, 'rel_end': 18, 'matchtext': '22 SEPT 2017', 'label': 'date', 'pattern_id': 'DMY-01', 'method': 'DMY-01', 'date_norm': '2017-09-22', 'epoch': 1506038400, 'resolution': 'D', 'slots': {'DOM': '22', 'MON_ABBREV': 'SEPT', 'YEARYY': '2017'}},
    ],
    9: [  # date_ymd
        {'rel_start': 9, 'rel_end': 19, 'matchtext': '2017-09-22', 'label': 'date', 'pattern_id': 'YMD-01', 'method': 'YMD-01', 'date_norm': '2017-09-22', 'epoch': 1506038400, 'resolution': 'D', 'slots': {'YEAR': '2017', 'DSEP1': '-', 'MM': '09', 'DSEP2': '-', 'DD': '22'}},
    ],
    10: [  # date_dtm
        {'rel_start': 3, 'rel_end': 25, 'matchtext': '2017-09-22T07:00-05:00', 'label': 'date', 'pattern_id': 'DTM-01', 'method': 'DTM-01', 'date_norm': '2017-09-22', 'epoch': 1506081600, 'resolution': 'm', 'slots': {'YEAR': '2017', 'MM': '09', 'DD': '22', 'hh': '07', 'mm': '00', 'LONG_TZ': '-05:00'}},
    ],
    11: [  # poli_contact
        {'rel_start': 8, 'rel_end': 23, 'matchtext': 'ops@example.org', 'label': 'email', 'pattern_id': 'EMAIL-01', 'method': 'EMAIL-01', 'slots': {'USER': 'ops', 'DOMAIN': 'example.org'}},
        {'rel_start': 27, 'rel_end': 41, 'matchtext': '(703) 555-1212', 'label': 'phone', 'pattern_id': 'PHONE-01', 'method': 'PHONE-01', 'slots': {'AREA': '(703)', 'EXCH': '555', 'LINE': '1212'}},
    ],
    12: [  # poli_money_ip
        {'rel_start': 5, 'rel_end': 14, 'matchtext': '$1,234.56', 'label': 'money', 'pattern_id': 'MONEY-01', 'method': 'MONEY-01', 'slots': {'CURSYM': '$', 'AMOUNT': '1,234.56'}},
        {'rel_start': 25, 'rel_end': 33, 'matchtext': '10.0.0.5', 'label': 'ip', 'pattern_id': 'IP-01', 'method': 'IP-01', 'slots': {'OCTET': '5'}},
    ],
    13: [  # place_qualified
        {'rel_start': 10, 'rel_end': 23, 'matchtext': 'San Diego, CA', 'label': 'place', 'confidence': 82, 'lat': 32.7157, 'lon': -117.1611, 'prec': 5000, 'geohash': '9mudjg', 'cc': 'US', 'adm1': 'CA', 'adm1_name': 'California', 'feat_class': 'P', 'feat_code': 'PPL', 'place_id': 'SDG.US', 'name': 'San Diego', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.pop;NameCode;ProvinceAssoc'},
    ],
    14: [  # place_bare
        {'rel_start': 4, 'rel_end': 10, 'matchtext': 'London', 'label': 'place', 'confidence': 54, 'lat': 51.5074, 'lon': -0.1278, 'prec': 5000, 'geohash': 'gcpvj0', 'cc': 'GB', 'adm1': 'ENG', 'adm1_name': 'England', 'feat_class': 'P', 'feat_code': 'PPLC', 'place_id': 'LON.GB', 'name': 'London', 'alt_place_id': 'LON.CA', 'alt_cc': 'CA', 'alt_conf_delta': 11, 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.capital;MajorPlace.pop'},
    ],
    15: [  # person_org
        {'rel_start': 7, 'rel_end': 11, 'matchtext': 'YMCA', 'label': 'org', 'confidence': 75, 'taxon': 'YMCA', 'catalog': 'JRC'},
        {'rel_start': 35, 'rel_end': 44, 'matchtext': 'Cleveland', 'label': 'place', 'confidence': 82, 'lat': 41.4993, 'lon': -81.6944, 'prec': 5000, 'geohash': 'dpmuhf', 'cc': 'US', 'adm1': 'OH', 'adm1_name': 'Ohio', 'feat_class': 'P', 'feat_code': 'PPL', 'place_id': 'CLE.OH', 'name': 'Cleveland', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.pop'},
    ],
    16: [  # html
    ],
    17: [  # mixed
        {'rel_start': 11, 'rel_end': 24, 'matchtext': '42.3N; 102.4W', 'label': 'coord', 'pattern_id': 'DD-02', 'lat': 42.3, 'lon': -102.4, 'prec': 11100, 'geohash': '9xx0tu', 'method': 'DD-02', 'slots': {'decDegLat': '42.3', 'hemiLat': 'N', 'latlonSep': '; ', 'decDegLon': '102.4', 'hemiLon': 'W'}},
        {'rel_start': 28, 'rel_end': 38, 'matchtext': '3 JUN 2021', 'label': 'date', 'pattern_id': 'DMY-01', 'method': 'DMY-01', 'date_norm': '2021-06-03', 'epoch': 1622678400, 'resolution': 'D', 'slots': {'DOM': '3', 'MON_ABBREV': 'JUN', 'YEARYY': '2021'}},
        {'rel_start': 44, 'rel_end': 61, 'matchtext': '+1 (800) 555-0199', 'label': 'phone', 'pattern_id': 'PHONE-01', 'method': 'PHONE-01', 'slots': {'CCODE': '+1', 'AREA': '(800)', 'EXCH': '555', 'LINE': '0199'}},
    ],
    18: [  # country_mention
        {'rel_start': 13, 'rel_end': 19, 'matchtext': 'Brazil', 'label': 'country', 'confidence': 84, 'lat': -10.0, 'lon': -55.0, 'prec': 100000, 'geohash': '6y0zh7', 'cc': 'BR', 'feat_class': 'A', 'feat_code': 'PCLI', 'place_id': 'C.BR', 'name': 'Brazil', 'method': 'Country.name;DefaultScore;Feature;LocationChooser.country;MajorPlace.inCountry'},
    ],
    19: [  # nationality
        {'rel_start': 4, 'rel_end': 9, 'matchtext': 'Iraqi', 'label': 'nationality', 'confidence': 75, 'cc': 'IQ', 'taxon': 'iraqi', 'catalog': 'nationality'},
        {'rel_start': 32, 'rel_end': 39, 'matchtext': 'Falluja', 'label': 'place', 'confidence': 86, 'lat': 33.3538, 'lon': 43.7866, 'prec': 5000, 'geohash': 'svzjsr', 'cc': 'IQ', 'adm1': 'AN', 'feat_class': 'P', 'feat_code': 'PPL', 'place_id': 'FAL.IQ', 'name': 'Falluja', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.inCountry;MajorPlace.pop'},
    ],
    20: [  # postal
        {'rel_start': 10, 'rel_end': 24, 'matchtext': 'Paddington NSW', 'label': 'place', 'confidence': 77, 'lat': -33.8847, 'lon': 151.2265, 'prec': 5000, 'geohash': 'r3gx1p', 'cc': 'AU', 'adm1': 'NSW', 'adm1_name': 'New South Wales', 'feat_class': 'P', 'feat_code': 'PPLX', 'place_id': 'PAD.AU', 'name': 'Paddington', 'method': 'DefaultScore;Feature;LocationChooser.country;NameCode;ProvinceAssoc'},
        {'rel_start': 25, 'rel_end': 29, 'matchtext': '2021', 'label': 'postal', 'confidence': 75, 'lat': -33.8847, 'lon': 151.2265, 'prec': 2000, 'geohash': 'r3gx1p', 'cc': 'AU', 'adm1': 'NSW', 'adm1_name': 'New South Wales', 'feat_class': 'A', 'feat_code': 'POST', 'place_id': 'AU.2021', 'name': 'Paddington', 'method': 'PostalAssoc'},
    ],
    21: [  # cjk
        {'rel_start': 3, 'rel_end': 5, 'matchtext': '北京', 'label': 'place', 'confidence': 76, 'lat': 39.9042, 'lon': 116.4074, 'prec': 5000, 'geohash': 'wx4g0b', 'cc': 'CN', 'adm1': '22', 'feat_class': 'P', 'feat_code': 'PPLC', 'place_id': 'BEI.CN', 'name': '北京', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.capital;MajorPlace.pop'},
    ],
    22: [  # arabic
        {'rel_start': 10, 'rel_end': 15, 'matchtext': 'بغداد', 'label': 'place', 'confidence': 87, 'lat': 33.3152, 'lon': 44.3661, 'prec': 5000, 'geohash': 'svzt98', 'cc': 'IQ', 'adm1': 'BG', 'feat_class': 'P', 'feat_code': 'PPLC', 'place_id': 'BGW.IQ', 'name': 'بغداد', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.capital;MajorPlace.pop'},
    ],
    23: [  # coord_near_city
        {'rel_start': 14, 'rel_end': 31, 'matchtext': '51.5074N, 0.1278W', 'label': 'coord', 'pattern_id': 'DD-02', 'lat': 51.5074, 'lon': -0.1278, 'prec': 11, 'geohash': 'gcpvj0', 'cc': 'GB', 'adm1': 'ENG', 'adm1_name': 'England', 'place_id': 'LON.GB', 'name': 'London', 'method': 'DD-02', 'nearest_places': ['London'], 'slots': {'decDegLat': '51.5074', 'hemiLat': 'N', 'latlonSep': ', ', 'decDegLon': '0.1278', 'hemiLon': 'W'}},
    ],
    24: [  # date_euro_ambiguous
        {'rel_start': 9, 'rel_end': 19, 'matchtext': '13/04/2021', 'label': 'date', 'pattern_id': 'MDY-01', 'method': 'MDY-01', 'date_norm': '2021-04-13', 'epoch': 1618272000, 'resolution': 'D', 'slots': {'DM1': '13', 'DSEP1': '/', 'DM2': '04', 'DSEP2': '/', 'YEAR': '2021'}},
    ],
    25: [  # mgrs_date_trap
    ],
    26: [  # place_lowercase
        {'rel_start': 11, 'rel_end': 16, 'matchtext': 'texas', 'label': 'place', 'confidence': 92, 'lat': 31.97, 'lon': -99.9, 'prec': 50000, 'geohash': '9v8vye', 'cc': 'US', 'adm1': 'TX', 'adm1_name': 'Texas', 'feat_class': 'A', 'feat_code': 'ADM1', 'place_id': 'US.TX', 'name': 'Texas', 'method': 'DefaultScore;Feature;LocationChooser.country;MajorPlace.admin;MajorPlace.pop'},
    ],
    27: [  # postal_vic
        {'rel_start': 11, 'rel_end': 25, 'matchtext': 'SPRINGVALE VIC', 'label': 'place', 'confidence': 77, 'lat': -37.9493, 'lon': 145.1525, 'prec': 5000, 'geohash': 'r1r0p5', 'cc': 'AU', 'adm1': 'VIC', 'adm1_name': 'Victoria', 'feat_class': 'P', 'feat_code': 'PPLX', 'place_id': 'SPV.AU', 'name': 'Springvale', 'method': 'DefaultScore;Feature;LocationChooser.country;NameCode;ProvinceAssoc'},
        {'rel_start': 26, 'rel_end': 30, 'matchtext': '3171', 'label': 'postal', 'confidence': 75, 'lat': -37.9493, 'lon': 145.1525, 'prec': 2000, 'geohash': 'r1r0p5', 'cc': 'AU', 'adm1': 'VIC', 'adm1_name': 'Victoria', 'feat_class': 'A', 'feat_code': 'POST', 'place_id': 'AU.3171', 'name': 'Springvale', 'method': 'PostalAssoc'},
    ],
    28: [  # date_distant_past
        {'rel_start': 5, 'rel_end': 16, 'matchtext': '14 JUN 1899', 'label': 'date', 'pattern_id': 'DMY-01', 'method': 'DMY-01', 'date_norm': '1899-06-14', 'epoch': -2226355200, 'resolution': 'D', 'slots': {'DOM': '14', 'MON_ABBREV': 'JUN', 'YEARYY': '1899'}, 'flags': ['distant-past']},
    ],
    29: [  # date_future
        {'rel_start': 14, 'rel_end': 24, 'matchtext': '2031-05-01', 'label': 'date', 'pattern_id': 'YMD-01', 'method': 'YMD-01', 'date_norm': '2031-05-01', 'epoch': 1935360000, 'resolution': 'D', 'slots': {'YEAR': '2031', 'DSEP1': '-', 'MM': '05', 'DSEP2': '-', 'DD': '01'}, 'flags': ['future']},
    ],
}
EXPECTED.update(_FROZEN)


# --- conversation-scope pass-2 fixtures --------------------------------------
#
# The two-pass rescore (pipeline.extract_conversation_scoped) re-extracts
# exactly the turns that carry a low-confidence (<60) place match, with the
# conversation's dominant country as preferred geography.  Both sides of
# that computation are fully determined by the pinned fixtures:
#   * vote-eligible rows  = place/country matches with confidence >= 65 and
#     a cc, PLUS reverse-geocoded coordinate matches (A3 coordinate scope);
#   * redo-eligible classes = payload classes with a place match < 60;
#   * the pass-2 outcome of a redone class under each possible preferred
#     country is pinned HERE as literals (drift-gated like EXPECTED).
# This is what lets the driver gate state the conv_scoped_places result as
# SQL VALUES (VERDICT r2 item 8).

def vote_rows() -> list[tuple[int, str]]:
    """(payload class, cc) per vote-eligible fixture ROW (row multiplicity
    carries into the per-conversation vote count)."""
    out = []
    for k, ms in EXPECTED.items():
        for m in ms:
            if not m.get("cc"):
                continue
            if (m["label"] in ("place", "country")
                    and m.get("confidence", 0) >= 65) \
                    or m["label"] == "coord":
                out.append((k, m["cc"]))
    return out


def redo_classes() -> list[int]:
    """Payload classes carrying a place match below the redo threshold."""
    return sorted({
        k for k, ms in EXPECTED.items()
        for m in ms
        if m["label"] == "place" and m.get("confidence", 100) < 60})


def compute_expected_pass2() -> dict[tuple[int, str], list[dict]]:
    """Re-extraction outcome (place/country rows) of every redo-eligible
    class under every possible preferred country — the generator for
    EXPECTED_PASS2, run by the drift test."""
    from ..pipeline import DEFAULT_FEATURES, extract_turn

    prefs = sorted({cc for _k, cc in vote_rows()})
    out: dict[tuple[int, str], list[dict]] = {}
    for k in redo_classes():
        text = PAYLOADS[k][1]
        for cc in prefs:
            _main, rows = extract_turn(text, DEFAULT_FEATURES,
                                       prefer_countries=(cc,))
            out[(k, cc)] = [
                {"rel_start": r["span_start"], "rel_end": r["span_end"],
                 "matchtext": r["matchtext"], "label": r["label"],
                 "cc": r["cc"], "confidence": r["confidence"]}
                for r in rows if r["label"] in ("place", "country")]
    return out


# pinned literals (drift-gated by tests/test_payloads.py): the only
# redo-eligible class is 14 (place_bare, 'the London office called'); the
# GB preference confers the K13 'preferred +5', other preferences leave
# the GB choice and confidence unchanged (no competitive London in scope)
EXPECTED_PASS2: dict[tuple[int, str], list[dict]] = {
    (14, cc): [{"rel_start": 4, "rel_end": 10, "matchtext": "London",
                "label": "place", "cc": "GB",
                "confidence": 59 if cc == "GB" else 54}]
    for cc in ("AU", "BR", "CN", "GB", "IQ", "US")
}
