"""Fixed explicit schemas for every inter-stage table.

Parsing rawness stays inside vectorized UDFs; everything between stages is
a columnar DataFrame with one of these schemas (SURVEY.md §1.2). Flat,
Arrow-friendly: qualifiers travel as a canonical JSON string (sorted
tuples) and the single per-source reference as three scalar columns —
far cheaper to shuffle than array<array<struct>> and reassembled into the
Wikibase JSON shape only at the sink.
"""

from __future__ import annotations

from pyspark.sql import types as T

# input (exactly BASELINE.json's input_hint)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# extraction output (pages → raw triples/candidates/terms)
RAW = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj_type", T.StringType(), True),
        T.StructField("obj_value", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_precision", T.IntegerType(), True),
        T.StructField("rank", T.StringType(), True),
        T.StructField("qualifiers", T.StringType(), True),
        T.StructField("has_ref", T.BooleanType(), True),
        T.StructField("needs_gnd_check", T.BooleanType(), True),
        T.StructField("cand_kind", T.StringType(), True),
        T.StructField("cand_property", T.IntegerType(), True),
        T.StructField("cand_id", T.StringType(), True),
        T.StructField("fallback_property", T.IntegerType(), True),
        T.StructField("fallback_text", T.StringType(), True),
        T.StructField("rescue", T.BooleanType(), True),
        T.StructField("src_property", T.IntegerType(), True),
        T.StructField("src_id", T.StringType(), True),
        T.StructField("src_url", T.StringType(), True),
        T.StructField("ord", T.IntegerType(), True),
    ]
)

# linked triples (candidates resolved; kinds claim|prop_text|label|alias|description):
# RAW in RAW's column order minus the five columns that only link() reads
_LINK_ONLY = {"needs_gnd_check", "cand_kind", "cand_property", "cand_id", "rescue"}
TRIPLES = T.StructType([f for f in RAW.fields if f.name not in _LINK_ONLY])

# dimension tables (FIXTURES.md §2)
ID_TO_QID = T.StructType(
    [
        T.StructField("property", T.IntegerType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("qid", T.StringType(), False),
        T.StructField("label_en", T.StringType(), True),
        T.StructField("p31", T.StringType(), True),
    ]
)

VIAF_LOOKUP = T.StructType(
    [
        T.StructField("source_key", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("viaf_id", T.StringType(), False),
    ]
)

VALID_GND_IDS = T.StructType(
    [
        T.StructField("gnd_id", T.StringType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
)
