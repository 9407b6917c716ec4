"""Entity-linking joins (SURVEY.md §2.3 J1–J7).

Every lookup the reference performs over live HTTP becomes a broadcast
equi-join against a deterministic dimension table:

  J1  (property, id) → QID, accepted ONLY on a single hit — the reference's
      totalhits==1 precision guard (/root/reference/src/external_id.rs:90-125)
      becomes `_single_hit` in the groupBy that builds the index.
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
  J6  parent-taxon: the same single-hit test over the rows with
      P31=Q16521 (inaturalist.rs:82-91 etc.); J1 and J6 share one
      (property, id) index.
  J7  GND validity: drop P227 sameAs claims marked invalid
      (external_id.rs:139-158); ids absent from the table pass (the
      reference only knows invalidity by fetching the page).

`link` is one chain over RAW: J7's anti-join, one conditional left join
per index (J1+J6, J5, then J2), one projection that turns each candidate
into a claim, a parked prop_text or nothing, and J3's conditional left
join with the projection that turns its hits into claims. Each index is
built once and probed once, and nothing is unioned.

An index is explicitly broadcast when the optimizer's size estimate of
its base table is at most BROADCAST_MAX_BYTES (`broadcast_hint`, which
runs no Spark job on a table with statistics); above that gate, as when
the id→QID index outgrows broadcast at 100 TB, the joins are left to
AQE's strategy choice and skew-join splitting.

The reference caches lookup hits AND misses in-process
(external_id.rs:14-23); the join itself subsumes both caches (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import get_lit_sql_str

from ..properties import KEY2PROP, RESCUE_CLASSES
from ..schemas import TRIPLES

# Byte gate for forcing an explicit broadcast of a join's small side
# (round 5). AQE still broadcasts small dims on its own, but its
# estimate-driven choice flipped to sort-merge in one environment and
# shuffled the raw table through six branches (BENCH_r04: link 70.5 s
# driver vs 12.9 s local on identical code/corpus). The hint makes the
# choice deterministic: each link index is a groupBy REDUCTION of its base
# table, so the base's size bounds the index. Above the gate the joins
# fall back to AQE, which is the right call once the side outgrows
# executor memory. 256 MiB is about the worst case of the earlier 4M-row
# gate.
BROADCAST_MAX_BYTES = 256 << 20
# Spark's size estimate for a table it has no statistics for
# (spark.sql.defaultSizeInBytes); a union or join over one estimates more
_NO_STATISTICS = 2**63 - 1


def broadcast_hint(base: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """`F.broadcast` when `base` fits BROADCAST_MAX_BYTES, else the identity.

    The size is the optimizer's estimate of `base`, which runs no Spark
    job: the file size for parquet, the cached size for a materialized
    persist, and exact for local tables such as `createDataFrame` of an
    Arrow table. A table without statistics (`createDataFrame` of a Python
    list, an RDD, or a union or join over one) is counted once instead,
    and its rows are sized as Spark sizes a local table's."""
    size = base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= _NO_STATISTICS:
        size = base.count() * (8 + base._jdf.schema().defaultSize())
    return F.broadcast if size <= BROADCAST_MAX_BYTES else (lambda df: df)


def _single_hit(qid: str) -> str:
    """Aggregate (SQL): the group's one non-null `qid`, or null when the
    group holds none or several distinct ones."""
    return f"CASE WHEN min({qid}) = max({qid}) THEN min({qid}) END"


def _id_index(id_to_qid: DataFrame) -> DataFrame:
    """(property, id) → J1's single-hit `qid` and J6's single-hit
    `taxon_qid` (the same test over P31=Q16521 rows); keys with neither
    are left out."""
    taxon_qid = "CASE WHEN p31 = 'Q16521' THEN qid END"
    return (
        id_to_qid.groupBy("property", "id")
        .agg(
            F.expr(f"{_single_hit('qid')} AS qid"),
            F.expr(f"{_single_hit(taxon_qid)} AS taxon_qid"),
        )
        .filter("qid IS NOT NULL OR taxon_qid IS NOT NULL")
    )


def single_hit_index(id_to_qid: DataFrame) -> DataFrame:
    """(property, id) pairs mapping to exactly one QID (J1 precision guard)."""
    return _id_index(id_to_qid).filter("qid IS NOT NULL").drop("taxon_qid")


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
        id_to_qid.filter("label_en IS NOT NULL")
        .groupBy("property", "id", "label_en")
        .agg(F.expr(f"{_single_hit('qid')} AS qid"))
        .filter("qid IS NOT NULL")
    )


def _values(spark, rows: str, names: str) -> DataFrame:
    """A local relation of SQL `rows` with the column `names`: about 5
    py4j calls, where `createDataFrame` of a four-row Python list makes 35."""
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({names})")


def rescue_index(id_to_qid: DataFrame, spark) -> DataFrame:
    """(rescue property, name) → QID over the allowed P31 classes (J3).

    Single-hit within each rescue property's class set.
    """
    classes = ", ".join(
        f"({prop}, {get_lit_sql_str(cls)})"
        for prop, classes in RESCUE_CLASSES.items()
        for cls in classes
    )
    classmap = _values(spark, classes, "rescue_property, p31")
    return (
        id_to_qid.filter("label_en IS NOT NULL")
        .join(F.broadcast(classmap), "p31")
        .groupBy("rescue_property", "label_en")
        .agg(F.expr(f"{_single_hit('qid')} AS qid"))
        .filter("qid IS NOT NULL")
    )


def viaf_key_map(spark) -> DataFrame:
    """property → VIAF source key (KEY2PROP reversed, viaf.rs:168-173)."""
    keys = ", ".join(f"({prop}, {get_lit_sql_str(key)})" for key, prop in KEY2PROP.items())
    return _values(spark, keys, "property, source_key")


def _probe(df: DataFrame, index: DataFrame, when: str, *on: tuple[str, str]) -> DataFrame:
    """Conditional left join: the rows of `df` where `when` (SQL) holds
    look up `index` on each (df column, index column) pair in `on`. The
    index's key columns are dropped, so only its value columns join `df`;
    they are null on every other row and on misses. Column names must not
    repeat across `df` and `index`."""
    cond = " AND ".join([f"({when})", *(f"{a} = {b}" for a, b in on)])
    return df.join(index, F.expr(cond), "left").drop(*(b for _, b in on))


# a candidate's key in the (property, id)-keyed indexes
_BY_ID = (("cand_property", "property"), ("cand_id", "id"))


def _as_triples(df: DataFrame, *cases, **extra: str) -> DataFrame:
    """Project `df` onto TRIPLES, plus the `extra` columns, in one
    projection written as SQL text. Each case is `(cond, keep, values)`:
    on the rows where `cond` holds, `values` (SQL expressions) fill their
    columns, the other columns named in `keep` pass through, and every
    other TRIPLES column is a typed null. Rows that no case matches pass
    through unchanged; the cases must be disjoint."""

    def column(field):
        whens = [
            f"WHEN {cond} THEN CAST({values.get(field.name, 'NULL')} AS {field.dataType.simpleString()})"
            for cond, keep, values in cases
            if field.name in values or field.name not in keep
        ]
        if not whens:
            return field.name
        return f"CASE {' '.join(whens)} ELSE {field.name} END AS {field.name}"

    return df.selectExpr(*map(column, TRIPLES.fields), *(f"{v} AS {k}" for k, v in extra.items()))


_PROVENANCE = ("subj", "src_property", "src_id", "src_url", "ord")


def _claim(cond: str, obj_type: str, obj_value: str, **values: str):
    """The `_as_triples` case for resolved candidates and rescued
    prop_text: normal-rank claims without qualifiers that keep their
    provenance, `pred` and `has_ref` unless `values` replace them."""
    claim = {"kind": "'claim'", "rank": "'normal'", "qualifiers": "''", "obj_type": obj_type}
    return cond, (*_PROVENANCE, "pred", "has_ref"), {**claim, "obj_value": obj_value, **values}


def link(
    raw: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    label_retry: bool = False,
) -> DataFrame:
    """Resolve all candidate rows of a RAW DataFrame; returns a TRIPLES
    DataFrame (kinds: claim, prop_text, label, alias, description). It
    carries none of the five columns only linking reads: the candidate
    key (`cand_kind`, `cand_property`, `cand_id`), `needs_gnd_check` and
    `rescue`. Building it runs no Spark job when the dimension tables have
    statistics (see `broadcast_hint`). Conditions and projections are SQL
    text: each costs one py4j round trip to build, where the same
    expression as a tree of Column calls costs one per node.

    `label_retry` (default False = reference behavior) enables the J2
    label-disambiguation of multi-hit extids — a deviation from the
    reference, which parks every J1 miss as prop_text (see
    label_extid_index docstring)."""
    spark = raw.sparkSession
    by_id = broadcast_hint(id_to_qid)

    # J7 — drop P227 sameAs claims whose GND id is known-invalid
    gnd_invalid = F.broadcast(valid_gnd_ids.filter("NOT valid").selectExpr("gnd_id"))
    df = raw.join(gnd_invalid, F.expr("obj_value = gnd_id AND needs_gnd_check"), "left_anti")

    # J1 + J6 — extid and parent_taxon candidates probe one index
    df = _probe(df, by_id(_id_index(id_to_qid)), "cand_kind IN ('extid', 'parent_taxon')", *_BY_ID)
    item = "CASE WHEN cand_kind = 'parent_taxon' THEN taxon_qid ELSE qid END"

    # J5 — VIAF inference → P214 external-id claim
    viaf_idx = (
        viaf_lookup.join(F.broadcast(viaf_key_map(spark)), "source_key")
        .groupBy("property", "id")
        .agg(F.expr("min(viaf_id) AS viaf_id"))
    )
    df = _probe(df, broadcast_hint(viaf_lookup)(viaf_idx), "cand_kind = 'viaf'", *_BY_ID)

    # J2 (extension, gated) — label-constrained retry for J1 misses that
    # carry a name; with label_retry=False (reference behavior) every J1
    # miss parks directly as prop_text
    named_miss = "cand_kind = 'extid' AND qid IS NULL AND fallback_text IS NOT NULL"
    if label_retry:
        lbl_idx = label_extid_index(id_to_qid).withColumnRenamed("qid", "label_qid")
        df = _probe(df, by_id(lbl_idx), named_miss, *_BY_ID, ("fallback_text", "label_en"))
        item = f"coalesce({item}, label_qid)"
        named_miss = f"{named_miss} AND label_qid IS NULL"

    # each candidate becomes a claim, a parked prop_text (rescuable, with
    # has_ref null, so a J3 rescue makes it true) or nothing
    is_cand = "kind = 'candidate'"
    value = f"coalesce({item}, viaf_id)"
    claim = f"{is_cand} AND {value} IS NOT NULL"
    parked = f"{is_cand} AND {named_miss}"
    obj_type = "CASE WHEN viaf_id IS NOT NULL THEN 'extid' ELSE 'item' END"
    df = _as_triples(
        df.filter(f"NOT ({is_cand}) OR ({claim}) OR ({parked})"),
        _claim(claim, obj_type, value),
        (parked, (*_PROVENANCE, "fallback_property", "fallback_text"), {"kind": "'prop_text'"}),
        rescue=f"CASE WHEN {parked} THEN true ELSE rescue END",
    )

    # J3 — typed rescue over all prop_text: the parsed rows and the parked
    # J1/J2 misses
    rescuable = (
        "kind = 'prop_text' AND coalesce(rescue, false)"
        f" AND fallback_property IN ({', '.join(map(str, RESCUE_CLASSES))})"
    )
    df = _probe(
        df,
        by_id(rescue_index(id_to_qid, spark)),
        rescuable,
        ("fallback_property", "rescue_property"),
        ("fallback_text", "label_en"),
    )
    pred = "concat('P', CAST(fallback_property AS STRING))"
    return _as_triples(
        df, _claim("qid IS NOT NULL", "'item'", "qid", pred=pred, has_ref="coalesce(has_ref, true)")
    )
