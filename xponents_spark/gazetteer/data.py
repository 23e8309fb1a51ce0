"""Embedded mini-gazetteer + side tables (deterministic test fixture).

Schema follows the reference's Solr gazetteer core
(``/root/reference/solr/solr7/gazetteer/conf/schema.xml:108-178``):
``place_id, name, name_type (N=name, A=abbreviation, C=code), feat_class,
feat_code, cc, adm1, lat, lon, id_bias, pop``.  A real deployment swaps
these rows for a gazetteer compiled by the ETL, pared the way the
reference's ETL does (``search_only`` filter, A/P bias — solr/README.md:198):
``sources.gazetteer_etl.build_tagger_parquet`` then
``mmapstore.build_mmap_artifact``, which every executor maps in place
(``extract(gazetteer_parquet=...)``).

Content covers the reference's disambiguation probe corpus
(``src/test/resources/data/placename-tests.txt``): name collisions across
countries (London/Paris/Dublin), state-code collisions (CA/GA/PA/IN),
person/org collisions (Eugene, Jackson, YMCA), acronym noise (PRT, DPRK).
Coordinates are real-world approximations — fixed fixture values.

Side tables (SURVEY.md §1.3): country catalog with aliases
(SolrGazetteer.java:209-245), ADM1 names (PlaceGeocoder.java:309-317),
population stats (MajorPlaceRule geohash-keyed stats,
PlaceGeocoder.java:246-255), stopword/non-place sets (TagFilter.java:57-103),
person-name/org/nationality lexicons (taxcat — solr/build.sh:24-57).
"""

from __future__ import annotations

# (place_id, name, name_type, feat_class, feat_code, cc, adm1, lat, lon, id_bias, pop)
GAZETTEER_ROWS: list[tuple] = [
    # --- US states (A/ADM1) + codes ---
    ("US.CA", "California", "N", "A", "ADM1", "US", "CA", 36.77, -119.41, 10, 39500000),
    ("US.CA", "CA", "C", "A", "ADM1", "US", "CA", 36.77, -119.41, 10, 39500000),
    ("US.CA", "Calif.", "A", "A", "ADM1", "US", "CA", 36.77, -119.41, 10, 39500000),
    ("US.TX", "Texas", "N", "A", "ADM1", "US", "TX", 31.97, -99.90, 10, 29100000),
    ("US.TX", "TX", "C", "A", "ADM1", "US", "TX", 31.97, -99.90, 10, 29100000),
    ("US.NY", "New York", "N", "A", "ADM1", "US", "NY", 43.00, -75.00, 9, 20200000),
    ("US.NY", "NY", "C", "A", "ADM1", "US", "NY", 43.00, -75.00, 9, 20200000),
    ("US.PA", "Pennsylvania", "N", "A", "ADM1", "US", "PA", 41.20, -77.19, 10, 13000000),
    ("US.PA", "PA", "C", "A", "ADM1", "US", "PA", 41.20, -77.19, 10, 13000000),
    ("US.OR", "Oregon", "N", "A", "ADM1", "US", "OR", 43.80, -120.55, 10, 4200000),
    ("US.OR", "OR", "C", "A", "ADM1", "US", "OR", 43.80, -120.55, 10, 4200000),
    ("US.OH", "Ohio", "N", "A", "ADM1", "US", "OH", 40.42, -82.91, 10, 11800000),
    ("US.OH", "OH", "C", "A", "ADM1", "US", "OH", 40.42, -82.91, 10, 11800000),
    ("US.GA", "Georgia", "N", "A", "ADM1", "US", "GA", 32.16, -82.90, 9, 10700000),
    ("US.GA", "GA", "C", "A", "ADM1", "US", "GA", 32.16, -82.90, 9, 10700000),
    ("US.MS", "Mississippi", "N", "A", "ADM1", "US", "MS", 32.35, -89.40, 10, 2960000),
    ("US.MS", "MS", "C", "A", "ADM1", "US", "MS", 32.35, -89.40, 10, 2960000),
    ("US.MS", "Miss", "A", "A", "ADM1", "US", "MS", 32.35, -89.40, 8, 2960000),
    ("US.NM", "New Mexico", "N", "A", "ADM1", "US", "NM", 34.52, -105.87, 10, 2120000),
    ("US.NM", "NM", "C", "A", "ADM1", "US", "NM", 34.52, -105.87, 10, 2120000),
    ("US.WA", "Washington", "N", "A", "ADM1", "US", "WA", 47.75, -120.74, 9, 7700000),
    ("US.IL", "Illinois", "N", "A", "ADM1", "US", "IL", 40.63, -89.40, 10, 12600000),
    ("US.KY", "Kentucky", "N", "A", "ADM1", "US", "KY", 37.84, -84.27, 10, 4500000),
    ("US.ID", "Idaho", "N", "A", "ADM1", "US", "ID", 44.07, -114.74, 10, 1840000),
    ("US.NH", "New Hampshire", "N", "A", "ADM1", "US", "NH", 43.19, -71.57, 10, 1380000),
    ("US.FL", "Florida", "N", "A", "ADM1", "US", "FL", 27.77, -81.69, 10, 21500000),
    ("US.FL", "FL", "C", "A", "ADM1", "US", "FL", 27.77, -81.69, 10, 21500000),
    # --- other ADM1s ---
    ("GB.ENG", "England", "N", "A", "PCLD", "GB", "ENG", 52.36, -1.17, 10, 56000000),
    ("CA.ON", "Ontario", "N", "A", "ADM1", "CA", "ON", 51.25, -85.32, 10, 14700000),
    ("CA.BC", "British Columbia", "N", "A", "ADM1", "CA", "BC", 53.73, -127.65, 10, 5100000),
    ("AU.NSW", "New South Wales", "N", "A", "ADM1", "AU", "NSW", -31.25, 146.92, 10, 8160000),
    ("AU.NSW", "NSW", "C", "A", "ADM1", "AU", "NSW", -31.25, 146.92, 10, 8160000),
    ("AU.VIC", "Victoria", "N", "A", "ADM1", "AU", "VIC", -36.98, 143.39, 9, 6680000),
    ("AU.VIC", "VIC", "C", "A", "ADM1", "AU", "VIC", -36.98, 143.39, 8, 6680000),
    ("AR.BA", "Buenos Aires", "N", "A", "ADM1", "AR", "BA", -36.67, -60.56, 9, 17500000),
    ("AR.BA", "BsAs", "A", "A", "ADM1", "AR", "BA", -36.67, -60.56, 7, 17500000),
    # --- cities (P/PPL) ---
    ("SDG.US", "San Diego", "N", "P", "PPL", "US", "CA", 32.7157, -117.1611, 8, 1386000),
    ("PIT.US", "Pittsburgh", "N", "P", "PPL", "US", "PA", 40.4406, -79.9959, 8, 302000),
    ("PIT.CA", "Pittsburg", "N", "P", "PPL", "US", "CA", 38.0280, -121.8846, 5, 76000),
    ("PIT.CA2", "Pittsburgh", "N", "P", "PPL", "US", "CA", 38.0280, -121.8846, 3, 0),
    ("LON.GB", "London", "N", "P", "PPLC", "GB", "ENG", 51.5074, -0.1278, 9, 8900000),
    ("LON.CA", "London", "N", "P", "PPL", "CA", "ON", 42.9849, -81.2453, 6, 383000),
    ("LON.KY", "London", "N", "P", "PPL", "US", "KY", 37.1289, -84.0833, 3, 8000),
    ("PAR.FR", "Paris", "N", "P", "PPLC", "FR", "11", 48.8566, 2.3522, 9, 2140000),
    ("PAR.TX", "Paris", "N", "P", "PPL", "US", "TX", 33.6609, -95.5555, 4, 25000),
    ("NYC.US", "New York", "N", "P", "PPL", "US", "NY", 40.7128, -74.0060, 9, 8400000),
    ("NYC.US", "New York City", "N", "P", "PPL", "US", "NY", 40.7128, -74.0060, 9, 8400000),
    ("NYC.US", "NYC", "A", "P", "PPL", "US", "NY", 40.7128, -74.0060, 8, 8400000),
    ("ALB.NY", "Albany", "N", "P", "PPLA", "US", "NY", 42.6526, -73.7562, 7, 99000),
    ("EUG.OR", "Eugene", "N", "P", "PPL", "US", "OR", 44.0521, -123.0868, 6, 172000),
    ("CLE.OH", "Cleveland", "N", "P", "PPL", "US", "OH", 41.4993, -81.6944, 7, 372000),
    ("OC.CA", "Orange County", "N", "A", "ADM2", "US", "CA", 33.7175, -117.8311, 7, 3190000),
    ("DUB.IE", "Dublin", "N", "P", "PPLC", "IE", "L", 53.3498, -6.2603, 9, 1170000),
    ("DUB.OH", "Dublin", "N", "P", "PPL", "US", "OH", 40.0992, -83.1141, 4, 49000),
    ("MOS.RU", "Moscow", "N", "P", "PPLC", "RU", "48", 55.7558, 37.6173, 9, 12500000),
    ("MOS.ID", "Moscow", "N", "P", "PPL", "US", "ID", 46.7324, -117.0002, 4, 25000),
    ("BER.DE", "Berlin", "N", "P", "PPLC", "DE", "16", 52.5200, 13.4050, 9, 3660000),
    ("BER.NH", "Berlin", "N", "P", "PPL", "US", "NH", 44.4687, -71.1851, 3, 9400),
    ("VAN.BC", "Vancouver", "N", "P", "PPL", "CA", "BC", 49.2827, -123.1207, 8, 675000),
    ("VAN.WA", "Vancouver", "N", "P", "PPL", "US", "WA", 45.6387, -122.6615, 5, 190000),
    ("SPR.IL", "Springfield", "N", "P", "PPLA", "US", "IL", 39.7817, -89.6501, 6, 114000),
    ("SPR.MA", "Springfield", "N", "P", "PPL", "US", "MA", 42.1015, -72.5898, 5, 155000),
    ("SFO.CA", "San Francisco", "N", "P", "PPL", "US", "CA", 37.7749, -122.4194, 8, 875000),
    # the corpus' "well-known city vs country-in-scope" probes
    # (placename-tests.txt "The man flew from San Francisco to Bolivia ...")
    ("SFR.BO", "San Francisco", "N", "P", "PPL", "BO", "P", -16.77, -65.00, 2, 5000),
    ("FLO.UY", "Florida", "N", "P", "PPLA", "UY", "FD", -34.0954, -56.2144, 4, 33000),
    ("BOS.MA", "Boston", "N", "P", "PPL", "US", "MA", 42.3601, -71.0589, 8, 695000),
    ("AUS.TX", "Austin", "N", "P", "PPLA", "US", "TX", 30.2672, -97.7431, 8, 965000),
    ("JCK.MS", "Jackson", "N", "P", "PPLA", "US", "MS", 32.2988, -90.1848, 6, 166000),
    ("SYD.AU", "Sydney", "N", "P", "PPLA", "AU", "NSW", -33.8688, 151.2093, 9, 5300000),
    ("VIC.BC", "Victoria", "N", "P", "PPLA", "CA", "BC", 48.4284, -123.3656, 7, 92000),
    ("PAL.IT", "Palermo", "N", "P", "PPLA", "IT", "15", 38.1157, 13.3615, 7, 657000),
    ("PAL.AR", "Palermo", "N", "P", "PPLX", "AR", "BA", -34.5889, -58.4306, 4, 0),
    ("STR.AU", "Strawberry Hill", "N", "S", "HMSD", "AU", "NSW", -33.8910, 151.2120, 2, 0),
    ("STR.US", "Strawberry Hill", "N", "T", "HLL", "US", "KS", 39.1080, -94.6250, 2, 0),
    ("BNK.AU", "Banksmeadow", "N", "P", "PPLX", "AU", "NSW", -33.9667, 151.2167, 3, 0),
    ("PAD.AU", "Paddington", "N", "P", "PPLX", "AU", "NSW", -33.8847, 151.2265, 3, 0),
    ("SPV.AU", "Springvale", "N", "P", "PPLX", "AU", "VIC", -37.9493, 145.1525, 3, 0),
    ("FAL.IQ", "Falluja", "N", "P", "PPL", "IQ", "AN", 33.3538, 43.7866, 6, 275000),
    ("EBA.AU", "Eba", "N", "P", "PPL", "AU", "SA", -32.1833, 134.0667, 2, 0),
    ("MA.IN", "Ma", "N", "P", "PPL", "IN", "MP", 22.60, 77.40, 1, 0),
    ("IN.CH", "In", "N", "P", "PPL", "CN", "15", 44.02, 87.30, 1, 0),
    # --- countries (A/PCLI) names + codes + aliases ---
    ("C.US", "United States", "N", "A", "PCLI", "US", "", 39.76, -98.5, 10, 331000000),
    ("C.US", "United States of America", "N", "A", "PCLI", "US", "", 39.76, -98.5, 10, 331000000),
    ("C.US", "USA", "A", "A", "PCLI", "US", "", 39.76, -98.5, 9, 331000000),
    ("C.US", "U.S.", "A", "A", "PCLI", "US", "", 39.76, -98.5, 9, 331000000),
    ("C.US", "U.S.A.", "A", "A", "PCLI", "US", "", 39.76, -98.5, 9, 331000000),
    ("C.US", "US", "C", "A", "PCLI", "US", "", 39.76, -98.5, 9, 331000000),
    ("C.US", "America", "N", "A", "PCLI", "US", "", 39.76, -98.5, 6, 331000000),
    ("C.GB", "United Kingdom", "N", "A", "PCLI", "GB", "", 54.0, -2.0, 10, 67000000),
    ("C.GB", "U.K.", "A", "A", "PCLI", "GB", "", 54.0, -2.0, 9, 67000000),
    ("C.GB", "UK", "C", "A", "PCLI", "GB", "", 54.0, -2.0, 9, 67000000),
    ("C.GB", "Britain", "N", "A", "PCLI", "GB", "", 54.0, -2.0, 8, 67000000),
    ("C.AU", "Australia", "N", "A", "PCLI", "AU", "", -25.0, 133.0, 10, 25700000),
    ("C.BR", "Brazil", "N", "A", "PCLI", "BR", "", -10.0, -55.0, 10, 212000000),
    ("C.CA", "Canada", "N", "A", "PCLI", "CA", "", 56.0, -106.0, 10, 38000000),
    ("C.FR", "France", "N", "A", "PCLI", "FR", "", 46.0, 2.0, 10, 67300000),
    ("C.DE", "Germany", "N", "A", "PCLI", "DE", "", 51.0, 9.0, 10, 83100000),
    ("C.RU", "Russia", "N", "A", "PCLI", "RU", "", 60.0, 100.0, 10, 144000000),
    ("C.CN", "China", "N", "A", "PCLI", "CN", "", 35.0, 105.0, 10, 1402000000),
    ("C.JP", "Japan", "N", "A", "PCLI", "JP", "", 36.0, 138.0, 10, 126000000),
    ("C.KP", "North Korea", "N", "A", "PCLI", "KP", "", 40.0, 127.0, 10, 25800000),
    ("C.KP", "DPRK", "A", "A", "PCLI", "KP", "", 40.0, 127.0, 8, 25800000),
    ("C.IQ", "Iraq", "N", "A", "PCLI", "IQ", "", 33.0, 44.0, 10, 40200000),
    ("C.MX", "Mexico", "N", "A", "PCLI", "MX", "", 23.0, -102.0, 10, 128900000),
    ("C.IE", "Ireland", "N", "A", "PCLI", "IE", "", 53.0, -8.0, 10, 4900000),
    ("C.GE", "Georgia", "N", "A", "PCLI", "GE", "", 42.0, 43.5, 8, 3700000),
    ("C.GA", "Gabon", "N", "A", "PCLI", "GA", "", -1.0, 11.75, 10, 2200000),
    ("C.GA", "GA", "C", "A", "PCLI", "GA", "", -1.0, 11.75, 3, 2200000),
    ("C.IN", "India", "N", "A", "PCLI", "IN", "", 20.0, 77.0, 10, 1380000000),
    ("C.IN", "IN", "C", "A", "PCLI", "IN", "", 20.0, 77.0, 3, 1380000000),
    ("C.PT", "Portugal", "N", "A", "PCLI", "PT", "", 39.5, -8.0, 10, 10300000),
    ("C.PT", "PRT", "C", "A", "PCLI", "PT", "", 39.5, -8.0, 3, 10300000),
    ("C.AR", "Argentina", "N", "A", "PCLI", "AR", "", -34.0, -64.0, 10, 45400000),
    ("C.IT", "Italy", "N", "A", "PCLI", "IT", "", 42.8, 12.8, 10, 59600000),
    ("C.BO", "Bolivia", "N", "A", "PCLI", "BO", "", -17.0, -65.0, 10, 11800000),
    ("C.CU", "Cuba", "N", "A", "PCLI", "CU", "", 21.5, -80.0, 10, 11300000),
    ("C.CO", "Colombia", "N", "A", "PCLI", "CO", "", 4.0, -72.0, 10, 50900000),
    ("C.UY", "Uruguay", "N", "A", "PCLI", "UY", "", -33.0, -56.0, 10, 3470000),
    # --- non-Latin names (T2 language-routed tagging; CJK names match as
    #     character sequences, Arabic after diacritic/variant normalization) ---
    ("BEI.CN", "北京", "N", "P", "PPLC", "CN", "22", 39.9042, 116.4074, 9, 21500000),
    ("SHA.CN", "上海", "N", "P", "PPLA", "CN", "23", 31.2304, 121.4737, 9, 24900000),
    ("TOK.JP", "東京", "N", "P", "PPLC", "JP", "40", 35.6762, 139.6503, 9, 13900000),
    ("TOK.JP", "东京", "N", "P", "PPLC", "JP", "40", 35.6762, 139.6503, 8, 13900000),
    ("SEO.KR", "서울", "N", "P", "PPLC", "KR", "11", 37.5665, 126.9780, 9, 9700000),
    ("HKG.HK", "香港", "N", "P", "PPLC", "HK", "", 22.3193, 114.1694, 9, 7500000),
    ("BGW.IQ", "بغداد", "N", "P", "PPLC", "IQ", "BG", 33.3152, 44.3661, 9, 7100000),
    ("FAL.IQ2", "الفلوجة", "N", "P", "PPL", "IQ", "AN", 33.3538, 43.7866, 6, 275000),
    ("C.IQ", "العراق", "N", "A", "PCLI", "IQ", "", 33.0, 44.0, 10, 40200000),
    ("DXB.AE", "دبي", "N", "P", "PPLA", "AE", "03", 25.2048, 55.2708, 8, 3300000),
    # --- continents (marked + filtered by F9) ---
    ("CONT.AF", "Africa", "N", "L", "CONT", "", "", 7.19, 21.1, 5, 0),
    ("CONT.EU", "Europe", "N", "L", "CONT", "", "", 48.69, 9.14, 5, 0),
    ("CONT.AS", "Asia", "N", "L", "CONT", "", "", 29.84, 89.3, 5, 0),
    ("CONT.NA", "North America", "N", "L", "CONT", "", "", 46.07, -100.55, 5, 0),
    ("CONT.SA", "South America", "N", "L", "CONT", "", "", -14.6, -57.66, 5, 0),
]

# ISO2 -> primary country name (subset of the reference country catalog)
COUNTRIES: dict[str, str] = {
    "US": "United States", "GB": "United Kingdom", "AU": "Australia",
    "BR": "Brazil", "CA": "Canada", "FR": "France", "DE": "Germany",
    "RU": "Russia", "CN": "China", "JP": "Japan", "KP": "North Korea",
    "IQ": "Iraq", "MX": "Mexico", "IE": "Ireland", "GE": "Georgia",
    "GA": "Gabon", "IN": "India", "PT": "Portugal", "AR": "Argentina",
    "IT": "Italy", "BO": "Bolivia", "CU": "Cuba", "CO": "Colombia",
    "UY": "Uruguay",
}

# CC.ADM1 hierarchical path -> province name (PlaceGeocoder.java:309-317)
ADM1_NAMES: dict[str, str] = {
    "US.CA": "California", "US.TX": "Texas", "US.NY": "New York",
    "US.PA": "Pennsylvania", "US.OR": "Oregon", "US.OH": "Ohio",
    "US.GA": "Georgia", "US.MS": "Mississippi", "US.NM": "New Mexico",
    "US.WA": "Washington", "US.IL": "Illinois", "US.KY": "Kentucky",
    "US.ID": "Idaho", "US.NH": "New Hampshire", "US.MA": "Massachusetts",
    "US.FL": "Florida", "UY.FD": "Florida", "BO.P": "Potosí",
    "US.KS": "Kansas", "US.AZ": "Arizona", "US.MO": "Missouri",
    "GB.ENG": "England", "CA.ON": "Ontario", "CA.BC": "British Columbia",
    "AU.NSW": "New South Wales", "AU.VIC": "Victoria", "AU.SA": "South Australia",
    "AR.BA": "Buenos Aires",
}

# general stop terms that are never standalone places (TagFilter non-placenames
# CSVs + per-language stop sets, TagFilter.java:57-103).  applied lowercase.
STOPWORDS: frozenset[str] = frozenset("""
the a an and or of in on at to for by with from as is was be been it its this
that these those i you he she we they my your his her our their me him them us
do does did done will would can could shall should may might must not no yes
so if then than there here when where what who why how all any some none
hi ok bye part where's i'll
""".split()) | frozenset(
    # Arabic stop set (per-language Lucene stopwords, schema.xml:449-471).
    # Stored as the matcher compares them: post variant-fold + light-stem
    # forms of {في من الى على عن ان او لا ما هذا هذه ذلك التي الذي كان يوم
    # أمس غدا} — keep in sync with matcher.normalize_token
    "ال امس ان او تي ذلك ذي عل عن غدا في كان لا ما من هذ هذا يوم".split()
)

# non-place name collisions (filters/non-placenames*.csv)
NON_PLACES: frozenset[str] = frozenset({
    "ma", "in", "hi", "al", "mo", "me", "ok", "de", "la", "no", "so", "to",
    "san", "the", "eba",
})

# person first/last names + titles (taxcat person_names catalog +
# PersonNameFilter resources, PlaceGeocoder.java:220-222)
PERSON_NAMES: frozenset[str] = frozenset({
    "eugene", "jackson", "charlotte", "victoria", "george", "austin",
    "paris", "madison", "jordan", "chelsea", "logan", "savannah",
    "clinton", "houston", "tyler", "aurora",
})
PERSON_TITLES: frozenset[str] = frozenset({
    "mr", "mrs", "ms", "dr", "gen", "general", "president", "senator",
    "gov", "governor", "sir", "captain", "capt", "col", "colonel",
})

# org names (taxcat JRC/org catalogs)
ORG_NAMES: dict[str, str] = {
    "ymca": "YMCA", "ywca": "YWCA", "un": "UN", "nato": "NATO",
    "united nations": "United Nations", "red cross": "Red Cross",
    "reuters": "Reuters", "australia post": "Australia Post",
    "u.s. marines": "US Marines",
}

# nationality -> country code (taxcat nationalities, solr/build.sh:24-57)
NATIONALITIES: dict[str, str] = {
    "american": "US", "americans": "US", "british": "GB", "australian": "AU",
    "brazilian": "BR", "canadian": "CA", "french": "FR", "german": "DE",
    "russian": "RU", "chinese": "CN", "japanese": "JP", "iraqi": "IQ",
    "iraqis": "IQ", "mexican": "MX", "irish": "IE", "indian": "IN",
    "portuguese": "PT", "argentine": "AR", "italian": "IT",
}

