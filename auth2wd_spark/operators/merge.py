"""Canonical merge: one item per component (SURVEY.md §2.4).

Replaces the reference's pairwise HashMap-order ItemMerger loop
(/root/reference/src/combinator.rs:182-199) with a single order-independent
groupBy — fair game because the reference's own order-invariance test only
pins the claim COUNT (combinator.rs:557-583); we make the stronger
guarantee of full determinism via canonical (subj, ord) tie-breaking.

Semantics replicated:
  A1/A3  claims identical iff same main snak AND same qualifiers; duplicate
         references union (never added to external-id claims,
         meta_item.rs:96-136). Our per-source reference is the
         (stated_in, src_property, src_id) struct, so reference union is
         collect_set — identical structs collapse, which is exactly the
         reference_exists shared-external-id-snak rule (meta_item.rs:75-91).
  A8     qualifier match ignored for P225 (meta_item.rs:309).
  A5/A6  fix_dates: per (component, P569/P570) deprecate all normal-rank
         claims below max precision + qualifier P2241=Q42727519
         (meta_item.rs:238-280).
  A11/12 label first-wins per language (deterministic subj/ord order),
         further distinct values → aliases; description first-wins.
  A4     prop_text sort+dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import get_lit_sql_str

from ..properties import P_DATE_OF_BIRTH, P_DATE_OF_DEATH, STATED_IN

# Every expression below is SQL text: building a plan costs one py4j
# round trip per expression string, where a tree of Column calls costs
# one per node (ARCHITECTURE.md, "Building a plan").

# the compact per-source reference: (stated-in QID, P{source property},
# source id), null on claims without a reference
_STATED_IN = "map({})".format(
    ", ".join(f"{prop}, {get_lit_sql_str(qid)}" for prop, qid in STATED_IN.items())
)
_REF = (
    "CASE WHEN has_ref THEN named_struct("
    f"'stated_in', {_STATED_IN}[src_property], "
    "'src_prop', concat('P', CAST(src_property AS STRING)), "
    "'src_id', src_id) END"
)
# P225 merges ignoring qualifiers (ItemMerger properties_ignore_qualifier_match)
QUAL_KEY = "CASE WHEN pred = 'P225' THEN '' ELSE qualifiers END"

_CLAIM_KEY = ("component", "pred", "obj_type", "obj_value", "obj_lang", "obj_precision", "qual_key")
_ANY_DEPRECATED = "max(CASE WHEN rank = 'deprecated' THEN 1 ELSE 0 END)"

_IS_DATE = f"pred IN ('P{P_DATE_OF_BIRTH}', 'P{P_DATE_OF_DEATH}') AND obj_type = 'time'"
_DEPRECATION = '["P2241", "item", "Q42727519"]'


def merge_claims(with_comp: DataFrame, ref_cap: int | None = None) -> DataFrame:
    """component-level claim dedup + reference union + fix_dates.

    `ref_cap` bounds the reference/src_url arrays per merged claim: a hot
    claim inside a giant component (P31=Q5 asserted by every one of a
    million member records) otherwise accumulates a million-element
    collect_set in ONE reducer's aggregation buffer — the one skew the
    salted repartition cannot help, because it is a single claim KEY. The
    capped path aggregates in two stages (per-(key, salt) sorted slice,
    then merge-of-slices and re-slice), so no buffer ever holds more than
    ~cap×salts elements. Deterministic, and provably identical to the
    unbounded result whenever a claim has ≤ cap references: each per-salt
    slice keeps its cap sort-smallest, and the global cap smallest are
    always within the union of per-salt smallest.
    """
    keyed = with_comp.filter("kind = 'claim'").selectExpr(
        "*", f"{_REF} AS ref", f"{QUAL_KEY} AS qual_key"
    )
    if ref_cap is None:
        aggs = (
            # deterministic representative qualifiers: first by (subj, ord)
            "min_by(qualifiers, struct(subj, ord)) AS qualifiers",
            "array_sort(collect_set(ref)) AS `references`",
            "array_sort(collect_set(src_url)) AS src_urls",
            "min(struct(subj, ord)) AS first_seen",
            _rank(_ANY_DEPRECATED),
        )
    else:
        cap = int(ref_cap)
        salt = F.expr("pmod(xxhash64(subj, ord), 16) AS salt")
        partial = (
            "min_by(struct(subj, ord, qualifiers), struct(subj, ord)) AS qual_p",
            f"{_ANY_DEPRECATED} AS any_depr",
            f"slice(array_sort(collect_set(ref)), 1, {cap}) AS refs_p",
            f"slice(array_sort(collect_set(src_url)), 1, {cap}) AS urls_p",
            "min(struct(subj, ord)) AS first_seen",
        )
        keyed = keyed.groupBy(*_CLAIM_KEY, salt).agg(*map(F.expr, partial))
        merge_slices = "slice(array_sort(array_distinct(flatten(collect_list({0})))), 1, %d) AS {1}" % cap
        aggs = (
            # (subj, ord) is unique per row, so struct-min == min_by(subj, ord)
            "min(qual_p).qualifiers AS qualifiers",
            merge_slices.format("refs_p", "`references`"),
            merge_slices.format("urls_p", "src_urls"),
            "min(first_seen) AS first_seen",
            _rank("max(any_depr)"),
        )
    grouped = keyed.groupBy(*_CLAIM_KEY).agg(*map(F.expr, aggs))
    return fix_dates(grouped.drop("qual_key"))


def _rank(any_deprecated: str) -> str:
    """A merged claim is deprecated when any of its claims is."""
    return f"CASE WHEN {any_deprecated} = 1 THEN 'deprecated' ELSE 'normal' END AS rank"


def fix_dates(claims: DataFrame) -> DataFrame:
    """A6: deprecate lower-precision P569/P570, qualifier P2241=Q42727519.

    Only date claims can be demoted, so only they meet their
    per-(component, pred) max precision: a hash aggregation over the date
    claims, joined back to them, while every other claim passes through.
    Both filters are on grouping keys of the claims aggregation, so the
    optimizer splits that aggregation in two; the merged claims are
    shuffled once, and only the date claims (deduplicated, a small share)
    again, for the maxima and the join. Not a join of all claims with the
    maxima: that shuffles every merged claim again, and its executed plan
    (jobs, shuffle) varied between runs. Not a window over the date
    claims: it sorts each (component, pred) partition on one reducer, and
    it was no faster on one giant component (ARCHITECTURE.md, Merge).
    The left join keeps date claims without a component, undemoted.
    """
    dates = claims.filter(_IS_DATE)
    maxima = dates.groupBy("component", "pred").agg(F.expr("max(obj_precision) AS max_precision"))
    demote = "rank = 'normal' AND obj_precision < max_precision"
    # append to an existing qualifier list: strip exactly the final ']'
    # (rtrim would eat the whole ']]' tail of nested arrays and corrupt
    # the JSON)
    only_one = get_lit_sql_str(f"[{_DEPRECATION}]")
    appended = get_lit_sql_str(f", {_DEPRECATION}]")
    replaced = {
        "qualifiers": f"CASE WHEN {demote} THEN CASE WHEN qualifiers = '' OR qualifiers IS NULL"
        f" THEN {only_one}"
        f" ELSE concat(substring(qualifiers, 1, length(qualifiers) - 1), {appended}) END"
        " ELSE qualifiers END AS qualifiers",
        "rank": f"CASE WHEN {demote} THEN 'deprecated' ELSE rank END AS rank",
    }
    # AQE keeps a hinted join's strategy; unhinted, this join's executed
    # plan varied between runs (5 or 6 jobs on one input)
    dates = dates.join(maxima.hint("shuffle_hash"), ["component", "pred"], "left").selectExpr(
        *(replaced.get(c, f"`{c}`") for c in claims.columns)
    )
    return claims.filter(f"({_IS_DATE}) IS NOT TRUE").union(dates)


def merge_terms(with_comp: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """labels (first per language), aliases (distinct, != label), descriptions.

    First-wins is a ``min_by(value, (subj, ord))`` aggregation, not a
    row_number window: the window sorts every (component, lang) partition
    on one reducer, so a pathological giant component degenerates to a
    single task, while min_by combines map-side first. On Spark 4.1
    min_by over a string value plans as a SortAggregate, so both the
    partial and the final aggregation sort their rows by key. The alias
    pool is simply ALL label and alias rows minus the winning label value
    — identical to the old "rank > 1" set because duplicates of the
    winning value were filtered by the != label predicate anyway.
    """

    def first(kind: str) -> DataFrame:
        return (
            with_comp.filter(f"kind = {get_lit_sql_str(kind)}")
            .groupBy("component", "obj_lang")
            .agg(F.expr(f"min_by(obj_value, struct(subj, ord)) AS {kind}"))
        )

    labels = first("label")
    aliases = (
        with_comp.filter("kind IN ('label', 'alias')")
        .join(labels, ["component", "obj_lang"], "left")
        .filter("label IS NULL OR obj_value != label")
        .selectExpr("component", "obj_lang AS lang", "obj_value AS alias")
        .distinct()
    )
    descriptions = first("description")
    return (
        labels.withColumnRenamed("obj_lang", "lang"),
        aliases,
        descriptions.withColumnRenamed("obj_lang", "lang"),
    )


def merge_prop_text(with_comp: DataFrame) -> DataFrame:
    """A4: distinct sorted prop_text per component."""
    return (
        with_comp.filter("kind = 'prop_text'")
        .selectExpr("component", "fallback_property", "fallback_text")
        .distinct()
    )


def merge_component(
    with_comp: DataFrame, ref_cap: int | None = None
) -> dict[str, DataFrame]:
    """Full canonicalization: returns the normalized item tables."""
    claims = merge_claims(with_comp, ref_cap=ref_cap)
    labels, aliases, descriptions = merge_terms(with_comp)
    prop_text = merge_prop_text(with_comp)
    members = with_comp.selectExpr("component", "subj").distinct()
    return {
        "claims": claims,
        "labels": labels,
        "aliases": aliases,
        "descriptions": descriptions,
        "prop_text": prop_text,
        "members": members,
    }
