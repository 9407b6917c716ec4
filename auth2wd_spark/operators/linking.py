"""Entity-linking joins (SURVEY.md §2.3 J1–J7).

Every lookup the reference performs over live HTTP becomes a broadcast
equi-join against a deterministic dimension table:

  J1  (property, id) → QID, accepted ONLY on a single hit — the reference's
      totalhits==1 precision guard (/root/reference/src/external_id.rs:90-125)
      becomes groupBy(property,id) + count==1 before the join.
  J2  label-constrained retry for J1 misses carrying a name: single hit
      within (property, id, label). EXTENSION, gated default-OFF: the
      reference resolves extid candidates ONLY via the totalhits==1 guard —
      its label-constrained search (external_id.rs:127-130) is called in
      production solely from the typed-rescue path
      (external_importer.rs:744) — so `link(label_retry=True)` is a
      deliberate deviation (ARCHITECTURE.md §3), not reference parity.
  J3  typed rescue of parked prop_text (P1412/P131/P27) against per-class
      name→QID rows (external_importer.rs:727-758).
  J5  VIAF inference: (source_key, id) → viaf_id (viaf.rs:191-227).
  J6  parent-taxon: (taxon property, parent id) restricted to P31=Q16521
      (inaturalist.rs:82-91 etc.).
  J7  GND validity: drop P227 sameAs claims marked invalid
      (external_id.rs:139-158); ids absent from the table pass (the
      reference only knows invalidity by fetching the page).

The id→QID- and VIAF-derived indexes are explicitly broadcast when their
base table is at most LINK_BROADCAST_MAX_ROWS rows (see `link`); above
that gate, as when the id→QID index outgrows broadcast at 100 TB, the
joins are left to AQE's strategy choice and skew-join splitting.

The reference caches lookup hits AND misses in-process
(external_id.rs:14-23); distinct() on the candidate keys before the join
plus the join itself subsumes both caches (SURVEY §4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..properties import KEY2PROP, RESCUE_CLASSES
from ..schemas import TRIPLES

# Row-count gate for forcing an explicit broadcast on the id→QID-derived
# link indexes (round 5). AQE still broadcasts small dims on its own, but
# its estimate-driven choice flipped to sort-merge in one environment and
# shuffled the 21-column raw table through six branches (BENCH_r04: link
# 70.5 s driver vs 12.9 s local on identical code/corpus). A cheap count
# on the base dimension table makes the choice deterministic: at or under
# the gate the index is provably broadcast-sized (each index is a groupBy
# REDUCTION of id_to_qid, so count(id_to_qid) bounds every index), above
# it the joins fall back to AQE, which is the right call once the index
# outgrows executor memory. 4M rows ≈ 250 MB broadcast worst-case —
# comfortable on any executor profile that can run this pipeline at all.
LINK_BROADCAST_MAX_ROWS = 4_000_000


def single_hit_index(id_to_qid: DataFrame) -> DataFrame:
    """(property, id) pairs mapping to exactly one QID (J1 precision guard)."""
    return (
        id_to_qid.groupBy("property", "id")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def label_extid_index(id_to_qid: DataFrame) -> DataFrame:
    """J2: (property, id, label) → QID, single-hit within the label slice.

    Built on the reference's label-constrained search primitive
    (`get_item_for_string_external_id_value`, external_id.rs:127-130), but
    applying it to extid candidates is an EXTENSION — the reference's only
    production caller of that search is the typed-rescue path
    (external_importer.rs:744); extid candidates are resolved solely via
    the totalhits==1 guard. Used only under `link(label_retry=True)`:
    a (property, id) pair that is MULTI-hit on the id alone — rejected by
    the J1 guard — is accepted when exactly one of the hits carries the
    record's name as its label.
    """
    return (
        id_to_qid.filter(F.col("label_en").isNotNull())
        .groupBy("property", "id", "label_en")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def taxon_index(id_to_qid: DataFrame) -> DataFrame:
    """Single-hit index restricted to taxa (haswbstatement:P31=Q16521)."""
    return (
        id_to_qid.filter(F.col("p31") == "Q16521")
        .groupBy("property", "id")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def rescue_index(id_to_qid: DataFrame, spark) -> DataFrame:
    """(rescue property, name) → QID over the allowed P31 classes (J3).

    Single-hit within each rescue property's class set.
    """
    class_rows = [
        (prop, cls) for prop, classes in RESCUE_CLASSES.items() for cls in classes
    ]
    classmap = spark.createDataFrame(class_rows, "rescue_property INT, p31 STRING")
    return (
        id_to_qid.join(F.broadcast(classmap), "p31")
        .groupBy("rescue_property", "label_en")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter((F.col("n_hits") == 1) & F.col("label_en").isNotNull())
        .drop("n_hits")
    )


def viaf_key_map(spark) -> DataFrame:
    """property → VIAF source key (KEY2PROP reversed, viaf.rs:168-173)."""
    rows = [(prop, key) for key, prop in KEY2PROP.items()]
    return spark.createDataFrame(rows, "cand_property INT, source_key STRING")


def _as_triples(df: DataFrame, *keep: str, **values) -> DataFrame:
    """Project `df` onto TRIPLES: the columns named in `keep` pass through,
    `values` (Columns or Python literals) fill theirs, and every other
    TRIPLES column is a typed null."""

    def column(field):
        if field.name in keep:
            return F.col(field.name)
        value = values.get(field.name)
        value = value if isinstance(value, Column) else F.lit(value)
        return value.cast(field.dataType).alias(field.name)

    return df.select(*map(column, TRIPLES.fields))


_PROVENANCE = ("subj", "src_property", "src_id", "src_url", "ord")


def _claims(df: DataFrame, obj_type: str, obj_value: str) -> DataFrame:
    """Resolved candidates and rescued prop_text → normal-rank claims
    without qualifiers."""
    return _as_triples(
        df, *_PROVENANCE, "pred", "has_ref",
        kind="claim", obj_type=obj_type, obj_value=F.col(obj_value),
        rank="normal", qualifiers="",
    )


def link(
    raw: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    label_retry: bool = False,
    broadcast: bool | None = None,
) -> DataFrame:
    """Resolve all candidate rows of a RAW DataFrame; returns a TRIPLES
    DataFrame (kinds: claim, prop_text, label, alias, description). It
    carries none of the five columns only linking reads: the candidate
    key (`cand_kind`, `cand_property`, `cand_id`), `needs_gnd_check` and
    `rescue`.

    `broadcast` picks the join strategy of the id→QID- and VIAF-derived
    indexes: `None` (the default) broadcasts each index whose base table
    has at most LINK_BROADCAST_MAX_ROWS rows (one `count()` per base
    table), `True` always broadcasts them, and `False` leaves the choice
    to AQE.

    `label_retry` (default False = reference behavior) enables the J2
    label-disambiguation of multi-hit extids — a deviation from the
    reference, which parks every J1 miss as prop_text (see
    label_extid_index docstring)."""
    spark = raw.sparkSession
    names = TRIPLES.fieldNames()

    def _gated_hint(base: DataFrame):
        # every index is a groupBy reduction of its base dimension table,
        # so count(base) bounds the index size — one cheap narrow count
        # (metadata-only on parquet) buys a deterministic broadcast choice
        fits = base.count() <= LINK_BROADCAST_MAX_ROWS if broadcast is None else broadcast
        return F.broadcast if fits else (lambda df: df)

    hint = _gated_hint(id_to_qid)
    idx = hint(single_hit_index(id_to_qid))
    tax_idx = hint(taxon_index(id_to_qid))
    resc_idx = hint(rescue_index(id_to_qid, spark))
    viaf_idx = _gated_hint(viaf_lookup)(
        viaf_lookup.join(F.broadcast(viaf_key_map(spark)), "source_key")
        .groupBy("cand_property", "id")
        .agg(F.min("viaf_id").alias("viaf_id"))
    )
    gnd_invalid = F.broadcast(valid_gnd_ids.filter(~F.col("valid")).select("gnd_id"))

    # J7 — drop P227 sameAs claims whose GND id is known-invalid
    claims = raw.filter(F.col("kind") == "claim")
    claims_out = claims.join(
        gnd_invalid,
        (claims["obj_value"] == gnd_invalid["gnd_id"]) & claims["needs_gnd_check"],
        "left_anti",
    ).select(*names)

    # J1 — extid candidates
    cand = raw.filter(F.col("kind") == "candidate")
    extid_cand = cand.filter(F.col("cand_kind") == "extid")
    j1 = extid_cand.join(
        idx,
        (extid_cand["cand_property"] == idx["property"]) & (extid_cand["cand_id"] == idx["id"]),
        "left",
    )
    branches = [claims_out, _claims(j1.filter(F.col("qid").isNotNull()), "item", "qid")]

    # J2 (extension, gated) — label-constrained retry for J1 misses that
    # carry a name; with label_retry=False (reference behavior) every J1
    # miss parks directly as prop_text
    missed = j1.filter(F.col("qid").isNull() & F.col("fallback_text").isNotNull()).drop(
        "qid", "property", "id"
    )
    if label_retry:
        lbl_idx = hint(label_extid_index(id_to_qid))
        j2 = missed.join(
            lbl_idx,
            (missed["cand_property"] == lbl_idx["property"])
            & (missed["cand_id"] == lbl_idx["id"])
            & (missed["fallback_text"] == lbl_idx["label_en"]),
            "left",
        )
        branches.append(_claims(j2.filter(F.col("qid").isNotNull()), "item", "qid"))
        missed = j2.filter(F.col("qid").isNull())

    # J6 — parent taxon (no fallback on miss)
    parent_cand = cand.filter(F.col("cand_kind") == "parent_taxon")
    j6 = parent_cand.join(
        tax_idx,
        (parent_cand["cand_property"] == tax_idx["property"])
        & (parent_cand["cand_id"] == tax_idx["id"]),
        "inner",
    )
    branches.append(_claims(j6, "item", "qid"))

    # J5 — VIAF inference → P214 external-id claim
    viaf_cand = cand.filter(F.col("cand_kind") == "viaf")
    j5 = viaf_cand.join(
        viaf_idx,
        (viaf_cand["cand_property"] == viaf_idx["cand_property"])
        & (viaf_cand["cand_id"] == viaf_idx["id"]),
        "inner",
    )
    branches.append(_claims(j5, "extid", "viaf_id"))

    # J3 — typed rescue over ALL prop_text: the parsed rows plus the J1/J2
    # misses, which park rescuable with has_ref null (a rescue makes it true)
    parked = _as_triples(missed, *_PROVENANCE, "fallback_property", "fallback_text", kind="prop_text")
    prop_text = raw.filter(F.col("kind") == "prop_text").select(*names, "rescue").unionByName(
        parked.withColumn("rescue", F.lit(True))
    )
    is_rescuable = F.coalesce(F.col("rescue"), F.lit(False)) & F.col(
        "fallback_property"
    ).isin(list(RESCUE_CLASSES.keys()))
    rescuable = prop_text.filter(is_rescuable)
    j3 = rescuable.join(
        resc_idx,
        (rescuable["fallback_property"] == resc_idx["rescue_property"])
        & (rescuable["fallback_text"] == resc_idx["label_en"]),
        "left",
    )
    rescued = j3.filter(F.col("qid").isNotNull()).withColumn(
        "pred", F.concat(F.lit("P"), F.col("fallback_property").cast("string"))
    ).withColumn("has_ref", F.coalesce(F.col("has_ref"), F.lit(True)))
    branches += [
        _claims(rescued, "item", "qid"),
        j3.filter(F.col("qid").isNull()).select(*names),
        prop_text.filter(~is_rescuable).select(*names),
        raw.filter(F.col("kind").isin("label", "alias", "description")).select(*names),
    ]
    return reduce(DataFrame.unionByName, branches)
