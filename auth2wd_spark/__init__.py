"""auth2wd_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing capabilities of the reference
authority-control-to-Wikidata pipeline (magnusmanske/auth2wd, see
/root/reference) as an idiomatic Spark batch pipeline:

    pages (url, warc_ts, html, text, lang)
      → route (url regex → source)                      [JVM-side regex]
      → extract (vectorized parse UDF → triples)        [mapInArrow]
      → link (broadcast joins vs id→QID dims)           [DataFrame joins]
      → canonicalize (connected components + merge)     [iterative joins]
      → materialize (partitioned parquet + lineage)

The reference performs entity lookups over live HTTP mid-extraction; here
every lookup is a pure function of (property, id) or (text, class) and is
deferred to a join stage against deterministic dimension tables — the only
architectural reordering, and behavior-preserving (SURVEY.md §3.1).
"""

__version__ = "0.1.0"
