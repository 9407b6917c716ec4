"""A7 fix_images + A10 merge-on-base-item diff semantics."""

import pytest
from pyspark.sql import functions as F

from auth2wd_spark.operators.diff import fix_images, merge_diff, merge_with_base

CLAIMS_SCHEMA = (
    "component STRING, pred STRING, obj_type STRING, obj_value STRING,"
    " obj_lang STRING, obj_precision INT, rank STRING, qualifiers STRING,"
    " references ARRAY<STRUCT<stated_in:STRING, src_prop:STRING, src_id:STRING>>"
)


def _claims(spark, rows):
    return spark.createDataFrame(rows, CLAIMS_SCHEMA)


@pytest.fixture()
def incoming(spark):
    ref = [("Q36578", "P227", "1")]
    return _claims(
        spark,
        [
            ("c1", "P4765", "extid", "http://img/1.jpg", None, None, "normal", "", ref),
            ("c1", "P21", "item", "Q6581097", None, None, "normal", "", ref),
            ("c2", "P4765", "extid", "http://img/2.jpg", None, None, "normal", "", ref),
            ("c2", "P31", "item", "Q5", None, None, "normal", "", ref),
        ],
    )


@pytest.fixture()
def base(spark):
    return _claims(
        spark,
        [
            # c1's base item already has a real image → its P4765 must drop
            ("c1", "P18", "string", "Foo.jpg", None, None, "normal", "", []),
            # c2's base already asserts P31=Q5 → not an added statement
            ("c2", "P31", "item", "Q5", None, None, "normal", "", []),
        ],
    )


# meta_item.rs:222-234
def test_fix_images(incoming, base):
    kept = fix_images(incoming, base)
    preds = {(r["component"], r["pred"]) for r in kept.collect()}
    assert ("c1", "P4765") not in preds
    assert ("c2", "P4765") in preds  # no P18 on c2's base
    assert ("c1", "P21") in preds


# combinator.rs:201-242 — added = claims without a pre-existing key
def test_merge_diff(incoming, base):
    added = {(r["component"], r["pred"]) for r in merge_diff(incoming, base).collect()}
    assert ("c2", "P31") not in added  # already on base
    assert ("c1", "P21") in added
    assert ("c2", "P4765") in added


def test_merge_with_base(incoming, base):
    out = merge_with_base(incoming, base)
    added = {(r["component"], r["pred"]) for r in out["added_statements"].collect()}
    assert ("c1", "P4765") not in added  # dropped by fix_images first
    altered = {(r["component"], r["pred"]) for r in out["altered_statements"].collect()}
    assert altered == {("c2", "P31")}  # matching claim carrying new refs


# the claim identity is merge's: main snak + qualifiers, with P225 matching
# whatever its qualifiers (meta_item.rs:309), and a base claim's NULL
# qualifiers equal to the pipeline's '' (no qualifiers)
def test_merge_diff_keys_on_qualifiers(spark):
    ref = [("Q36578", "P227", "1")]
    start = '[["P580", "time", "+1990-00-00T00:00:00Z"]]'
    merged = _claims(
        spark,
        [
            ("c1", "P39", "item", "Q1", None, None, "normal", start, ref),
            ("c1", "P225", "string", "Licea", None, None, "normal", start, ref),
            ("c1", "P31", "item", "Q5", None, None, "normal", "", ref),
        ],
    )
    base = _claims(
        spark,
        [
            ("c1", "P39", "item", "Q1", None, None, "normal", "", []),
            ("c1", "P225", "string", "Licea", None, None, "normal", "", []),
            ("c1", "P31", "item", "Q5", None, None, "normal", None, []),
        ],
    )
    added = {r["pred"] for r in merge_diff(merged, base).collect()}
    assert added == {"P39"}
    altered = {r["pred"] for r in merge_with_base(merged, base)["altered_statements"].collect()}
    assert altered == {"P225", "P31"}
