"""Merge against base items + MergeDiff (SURVEY §2.4 A7/A10, §3.3).

The reference's ``/extend`` path merges freshly imported items into an
existing Wikidata item and reports the diff of genuinely new statements
(combinator.rs:201-242, regression test :349-425). Batch equivalent:

  base_claims — claims already on Wikidata, keyed by component (matched
  upstream via shared external ids) with a non-null ``claim_id``.

  merge_with_base  = fix_images (A7: incoming P4765 drops when the base
                     has a P18 image, meta_item.rs:222-234) + claim-key
                     anti-join diff: every merged claim whose key does not
                     appear in the base is an added statement — the same
                     post-cleanup recomputation the reference uses to fix
                     its duplicate-added-statements bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .merge import QUAL_KEY

# merge's claim identity: main snak + qualifiers, P225 ignoring them; a
# base claim's NULL qualifiers read as none, like the pipeline's ''
CLAIM_KEY = ["component", "pred", "obj_type", "obj_value", "obj_lang", "obj_precision", "qual_key"]


def fix_images(claims: DataFrame, base_claims: DataFrame) -> DataFrame:
    """Drop P4765 (commons-compatible image URL) claims for components whose
    base item already has a real P18 image."""
    has_p18 = (
        base_claims.filter(F.col("pred") == "P18").select("component").distinct()
    )
    p4765 = F.col("pred") == "P4765"
    keep = claims.join(F.broadcast(has_p18.withColumn("_has_p18", F.lit(True))), "component", "left")
    return keep.filter(~(p4765 & F.col("_has_p18").isNotNull())).drop("_has_p18")


def _match_base(claims: DataFrame, base_claims: DataFrame, how: str) -> DataFrame:
    """Claims joined with the base's claim keys (null-safe: obj_lang and
    obj_precision are nullable) by a `left_anti` or `left_semi` join."""
    qual_key = f"coalesce({QUAL_KEY}, '') AS qual_key"
    keyed = claims.selectExpr("*", qual_key)
    base_keys = base_claims.selectExpr(*CLAIM_KEY[:-1], qual_key).distinct()
    cond = None
    for c in CLAIM_KEY:
        piece = keyed[c].eqNullSafe(base_keys[c])
        cond = piece if cond is None else cond & piece
    return keyed.join(base_keys, cond, how).drop("qual_key")


def merge_diff(claims: DataFrame, base_claims: DataFrame) -> DataFrame:
    """Added statements: merged claims absent from the base (claim-key
    anti-join). Reference semantics: a claim matching an existing base
    statement (same snak + qualifiers) is not 'added' even when it brought
    new references — reference changes surface as altered, not added."""
    return _match_base(claims, base_claims, "left_anti")


def merge_with_base(claims: DataFrame, base_claims: DataFrame) -> dict[str, DataFrame]:
    """A10: returns the merged claim set and the MergeDiff tables."""
    merged = fix_images(claims, base_claims)
    added = merge_diff(merged, base_claims)
    # altered = base statements that gained references from the merge
    ref_gain = _match_base(merged, base_claims, "left_semi").filter(F.size(F.col("references")) > 0)
    return {"merged": merged, "added_statements": added, "altered_statements": ref_gain}
