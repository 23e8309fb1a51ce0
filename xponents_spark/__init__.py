"""xponents_spark — a PySpark-native rebuild of the OpenSextant/Xponents
extraction stack.

The reference (https://github.com/OpenSextant/Xponents, checkout at
/root/reference) is a per-document Java/Solr extraction engine.  This package
re-expresses the same semantics Spark-first:

* input: tables of multi-turn transcripts
  ``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``
* extraction (FlexPat regex families XCoord/XTemporal/PoLi, gazetteer phrase
  tagging, geocoding rules) runs as **batched Arrow/pandas UDFs** inside
  ``mapInPandas`` — pure functions over pandas batches, broadcast reference
  data, no per-row Python UDFs and no driver-side loops.
* output: per-turn extracted main text plus an array of typed match structs
  mirroring the reference's REST annotation schema
  (``/root/reference/src/main/java/org/opensextant/output/Transforms.java:285-460``).

Sub-packages
------------
``flexpat``      FlexPat pattern-config compiler + scanner (R1-R3 in SURVEY.md §2.3)
``extractors``   XCoord / XTemporal / PoLi normalization (R4-R9)
``functions``    scalar normalization kernel: text + geodetic (§2.9)
``gazetteer``    mini-gazetteer ETL, Aho-Corasick tagger, filters, scoring rules (§2.2/2.4/2.7)
``textract``     main-content extraction (HTML boilerplate strip) — XText equivalent (S1)
``operators``    training-data pipeline operators: dedup, similarity, text stats
``sources``      transcript readers + deterministic synthesizer
``plans``        Spark plan helpers: salting, ordering, checkpoint manifests
``streaming``    Structured Streaming variant of the extraction pipeline
``zipcache``     lazy zipimport invalidation: cuts PySpark's per-task fixed cost
"""

from xponents_spark import zipcache as _zipcache

__version__ = "0.1.0"

_zipcache.install()
