"""Taxcat ETL: raw lexicon rows -> the taxcat runtime parquet.

The reference's taxcat Solr core carries JRC entity names, person names,
nationalities and WFB facts (solr/build.sh:24-57; schema
solr/solr7/taxcat/conf/schema.xml:111-124: id, catalog, taxnode, tag[],
phrase, valid, name_type).  This module gives T4 the same scale-artifact
path T1/T5 already have: an offline ETL emits a parquet with the phrase
pre-normalized by the matcher's own tokenization, plus the
normalization-version sidecar; ``mmapstore.build_taxcat_mmap`` compiles it
into the artifact every executor worker maps in place
(``extract(taxcat_parquet=...)``, served through ``gazetteer.tables``),
no driver collect.

Synthesis shape mirrors the reference catalogs: person names as FIRST LAST
(and FIRST M. LAST) combinations, org names with legal/institutional
suffixes, nationality adjectives keyed to ISO2 — deterministic JVM-side
expressions (F.hash with literal seeds), no Python RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .gazetteer_etl import write_phrase_parquet

_FIRST = ("james", "maria", "wei", "ahmed", "olga", "jean", "carlos",
          "yuki", "anna", "david", "fatima", "ivan", "chen", "sara",
          "paul", "nadia", "omar", "lucia", "hans", "priya", "tariq",
          "elena", "marco", "aisha", "viktor", "ingrid", "raj", "leila")
_LAST = ("smith", "garcia", "wang", "hassan", "petrov", "dubois", "silva",
         "tanaka", "muller", "rossi", "kim", "novak", "ali", "kowalski",
         "jensen", "costa", "moreau", "popov", "yamada", "singh", "ozturk",
         "haddad", "berg", "farkas", "oconnor", "lindqvist", "mbeki",
         "ferreira")
_ORG_STEM = ("global", "united", "national", "pacific", "atlantic",
             "northern", "central", "advanced", "general", "first",
             "allied", "continental", "sovereign", "imperial", "eastern")
_ORG_NOUN = ("dynamics", "holdings", "systems", "industries", "logistics",
             "partners", "capital", "energy", "media", "networks",
             "sciences", "commerce", "materials", "aviation", "robotics")
_ORG_SUFFIX = ("Inc", "Ltd", "GmbH", "Corp", "Group", "LLC", "SA", "AG",
               "PLC", "Institute")


_SYL = ("an", "bel", "cor", "dan", "el", "far", "gor", "hal", "in", "jor",
        "kar", "lan", "mor", "nev", "or", "pet", "quin", "ros", "sto",
        "tar", "ul", "ver", "wil", "yan", "zeb", "mir", "sol", "thor")


def _pick(arr: tuple[str, ...], h: F.Column) -> F.Column:
    a = F.array(*[F.lit(x) for x in arr])
    return F.element_at(a, (F.pmod(h, F.lit(len(arr))) + 1).cast("int"))


def _surname(h1: F.Column, h2: F.Column, h3: F.Column) -> F.Column:
    """Syllable-composed surname: 28^2..28^3 distinct forms — the catalog
    must reach JRC scale (~10^5 distinct phrases), which a fixed name list
    cannot."""
    return F.initcap(F.concat(
        _pick(_SYL, h1), _pick(_SYL, h2),
        F.when(F.pmod(h3, F.lit(2)) == 0, _pick(_SYL, h3))
         .otherwise(F.lit(""))))


def synthesize_taxcat_raw(spark: SparkSession, n_rows: int = 120_000,
                          seed: int = 91, partitions: int = 16) -> DataFrame:
    """Raw taxcat rows (catalog, taxnode, name, kind, canonical, cc,
    name_type, valid) at JRC/person-catalog scale."""
    df = spark.range(0, n_rows, 1, partitions)
    i = F.col("id")
    h = lambda k: F.hash(i, F.lit(seed), F.lit(k))
    kind_sel = F.pmod(h(0), F.lit(10))

    first = F.initcap(_pick(_FIRST, h(1)))
    # ~half common-list surnames (collision-heavy like real catalogs),
    # ~half syllable-composed (distinct-phrase volume at JRC scale)
    last = F.when(F.pmod(h(9), F.lit(2)) == 0, F.initcap(_pick(_LAST, h(2)))) \
            .otherwise(_surname(h(10), h(11), h(12)))
    mid = F.upper(F.substring(_pick(_FIRST, h(3)), 1, 1))
    person = F.when(F.pmod(h(4), F.lit(4)) == 0,
                    F.concat(first, F.lit(" "), mid, F.lit(". "), last)) \
              .otherwise(F.concat(first, F.lit(" "), last))

    org = F.concat(
        F.when(F.pmod(h(13), F.lit(2)) == 0, F.initcap(_pick(_ORG_STEM, h(5))))
         .otherwise(_surname(h(14), h(15), h(16))), F.lit(" "),
        F.initcap(_pick(_ORG_NOUN, h(6))), F.lit(" "),
        _pick(_ORG_SUFFIX, h(7)))

    # ~60% person, ~40% org; a row per entity name like JRCNames' one row
    # per (entity, variant)
    kind = F.when(kind_sel < 6, F.lit("person")).otherwise(F.lit("org"))
    name = F.when(kind_sel < 6, person).otherwise(org)
    catalog = F.when(kind_sel < 6, F.lit("person_names")) \
               .otherwise(F.lit("JRC"))
    # ~2% rows marked invalid (the reference's valid:boolean gate,
    # TaxonMatcher fq=valid:true)
    valid = F.pmod(h(8), F.lit(50)) != 0
    return df.select(
        catalog.alias("catalog"),
        F.concat(catalog, F.lit("."), kind).alias("taxnode"),
        name.alias("name"), kind.alias("kind"),
        name.alias("canonical"),
        F.lit(None).cast("string").alias("cc"),
        F.lit("N").alias("name_type"),
        valid.alias("valid"))


def taxcat_etl(raw: DataFrame) -> DataFrame:
    """Dedup variants (one row per (phrase-insensitive name, kind)) and
    keep the valid taggable subset — the taxcat analog of gazetteer_etl."""
    from pyspark.sql import Window
    w = Window.partitionBy(F.lower("name"), "kind").orderBy("canonical")
    return (raw.withColumn("rn", F.row_number().over(w))
               .filter("rn = 1").drop("rn"))


def build_taxcat_parquet(rows: DataFrame, path: str) -> None:
    """Append the matcher-normalized ``phrase`` column and write the
    runtime artifact + normalization sidecar (same contract as
    build_tagger_parquet)."""
    write_phrase_parquet(rows, path)


def embedded_taxcat_df(spark: SparkSession) -> DataFrame:
    """The embedded T4 lexicons as a taxcat DataFrame — lets the driver
    gate exercise the parquet-backed index with output identical to the
    embedded path."""
    from ..gazetteer import data
    rows = []
    for n in sorted(data.PERSON_NAMES):
        rows.append(("person_names", "person_names.person", n, "person",
                     n, None, "N", True))
    for key, canonical in data.ORG_NAMES.items():
        rows.append(("JRC", "JRC.org", key, "org", canonical, None, "N",
                     True))
    for nat, cc in data.NATIONALITIES.items():
        rows.append(("nationality", "nationality.nationality", nat,
                     "nationality", nat, cc, "N", True))
    return spark.createDataFrame(
        rows, "catalog string, taxnode string, name string, kind string, "
              "canonical string, cc string, name_type string, valid boolean")
