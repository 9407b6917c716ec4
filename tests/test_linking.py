"""Linking joins J1 and J3–J7 on hand-built RAW rows and tiny dimension
tables, plus the narrow stage contracts (TRIPLES layout, route without
`html`) and a plan build that starts no Spark job.

No reference fixtures: every input is built here, so these run anywhere.
"""

from datetime import datetime

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from auth2wd_spark import schemas
from auth2wd_spark.operators.extract import route
from auth2wd_spark.operators.linking import link


def _raw(spark, *rows):
    base = {"src_property": 227, "src_id": "1", "src_url": "test://page", "ord": 1}
    return spark.createDataFrame([{**base, **r} for r in rows], schema=schemas.RAW)


def _link(spark, raw, id_to_qid=(), viaf_lookup=(), valid_gnd=()):
    return link(
        raw,
        spark.createDataFrame(list(id_to_qid), schema=schemas.ID_TO_QID),
        spark.createDataFrame(list(viaf_lookup), schema=schemas.VIAF_LOOKUP),
        spark.createDataFrame(list(valid_gnd), schema=schemas.VALID_GND_IDS),
    )


def _cand(subj, cand_kind, pred, cand_property, cand_id):
    return {
        "subj": subj,
        "kind": "candidate",
        "pred": pred,
        "has_ref": False,
        "cand_kind": cand_kind,
        "cand_property": cand_property,
        "cand_id": cand_id,
    }


def _named(cand, fallback_property, fallback_text):
    return {**cand, "fallback_property": fallback_property, "fallback_text": fallback_text}


def test_j1_single_hit_claims_and_multi_hit_parks(spark):
    """J1 resolves a single hit to an item claim. A multi-hit with a name
    parks as prop_text with has_ref null, and J3 rescues it with has_ref
    true when its name is a rescue-class label. A multi-hit without a name
    is dropped."""
    raw = _raw(
        spark,
        _cand("single", "extid", "P227", 227, "1"),
        _named(_cand("parked", "extid", "P1412", 227, "2"), 1412, "Klingon"),
        _named(_cand("rescued", "extid", "P27", 227, "2"), 27, "Germany"),
        _cand("unnamed", "extid", "P227", 227, "2"),
    )
    id_to_qid = [
        (227, "1", "Q1", None, "Q5"),
        (227, "2", "Q2", None, "Q5"),
        (227, "2", "Q22", None, "Q5"),
        (0, "-", "Q183", "Germany", "Q6256"),  # rescue row: a country named Germany
    ]
    out = _link(spark, raw, id_to_qid=id_to_qid).collect()
    got = {r["subj"]: (r["kind"], r["pred"], r["obj_value"], r["has_ref"]) for r in out}
    assert got == {
        "single": ("claim", "P227", "Q1", False),
        "parked": ("prop_text", None, None, None),
        "rescued": ("claim", "P27", "Q183", True),
    }
    (parked,) = [r for r in out if r["subj"] == "parked"]
    assert (parked["fallback_property"], parked["fallback_text"]) == (1412, "Klingon")


def test_j1_and_j6_share_one_index_but_not_its_rule(spark):
    """One (property, id) index serves J1 and J6 without mixing them: a
    key whose only QID is not a taxon resolves for J1 and not for J6; a
    key with two QIDs, one of them a taxon, is rejected by J1 and
    accepted by J6."""
    raw = _raw(
        spark,
        _cand("extid_non_taxon", "extid", "P846", 846, "5"),
        _cand("taxon_non_taxon", "parent_taxon", "P171", 846, "5"),
        _cand("extid_two", "extid", "P846", 846, "6"),
        _cand("taxon_two", "parent_taxon", "P171", 846, "6"),
    )
    id_to_qid = [
        (846, "5", "Q5", None, "Q5"),
        (846, "6", "Q6", None, "Q16521"),
        (846, "6", "Q66", None, "Q5"),
    ]
    out = _link(spark, raw, id_to_qid=id_to_qid).collect()
    assert sorted((r["subj"], r["kind"], r["pred"], r["obj_value"]) for r in out) == [
        ("extid_non_taxon", "claim", "P846", "Q5"),
        ("taxon_two", "claim", "P171", "Q6"),
    ]


def test_link_plan_build_starts_no_job(spark):
    """link() decides its broadcasts from the optimizer's size estimate of
    the dimension tables, so building its plan starts no Spark job (a
    `count()` per table did). Arrow-built tables carry exact estimates."""

    def local(rows, schema):
        return spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))

    raw = _raw(spark, _cand("s", "extid", "P227", 227, "1"))
    dims = (
        local([{"property": 227, "id": "1", "qid": "Q1", "label_en": "A", "p31": "Q5"}], schemas.ID_TO_QID),
        local([{"source_key": "DNB", "id": "1", "viaf_id": "9"}], schemas.VIAF_LOOKUP),
        local([{"gnd_id": "1", "valid": False}], schemas.VALID_GND_IDS),
    )
    sc = spark.sparkContext
    try:
        for label_retry in (False, True):
            group = f"link-plan-build-{label_retry}"
            sc.setJobGroup(group, "link() plan build")
            out = link(raw, *dims, label_retry=label_retry)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["obj_value"] for r in out.collect()] == ["Q1"]


def test_j5_viaf_inference(spark):
    """A `viaf` candidate whose (property, id) maps through viaf_key_map
    (P227 → DNB) yields one P214 extid claim; a VIAF miss yields nothing."""
    raw = _raw(
        spark,
        _cand("hit", "viaf", "P214", 227, "118540238"),
        _cand("miss", "viaf", "P214", 227, "999"),
    )
    out = _link(spark, raw, viaf_lookup=[("DNB", "118540238", "24602065")]).collect()
    assert [r["subj"] for r in out] == ["hit"]
    (claim,) = out
    assert (claim["kind"], claim["pred"], claim["obj_type"], claim["obj_value"]) == (
        "claim", "P214", "extid", "24602065",
    )
    assert (claim["rank"], claim["qualifiers"], claim["has_ref"]) == ("normal", "", False)


def test_j6_parent_taxon_single_hit(spark):
    """A parent_taxon candidate resolves only on a single hit among
    P31=Q16521 rows: two taxon QIDs, or a hit on a non-taxon row only,
    drop the candidate (no fallback)."""
    raw = _raw(
        spark,
        _cand("single", "parent_taxon", "P171", 846, "1"),
        _cand("double", "parent_taxon", "P171", 846, "2"),
        _cand("non_taxon", "parent_taxon", "P171", 846, "3"),
    )
    id_to_qid = [
        (846, "1", "Q1", None, "Q16521"),
        (846, "1", "Q9", None, "Q5"),  # a non-taxon row beside the single taxon hit
        (846, "2", "Q2", None, "Q16521"),
        (846, "2", "Q22", None, "Q16521"),
        (846, "3", "Q3", None, "Q5"),
    ]
    out = _link(spark, raw, id_to_qid=id_to_qid).collect()
    assert [(r["subj"], r["kind"], r["pred"], r["obj_type"], r["obj_value"]) for r in out] == [
        ("single", "claim", "P171", "item", "Q1")
    ]


def test_j7_gnd_validity_drop_is_conditional(spark):
    """An invalid GND id drops a claim flagged `needs_gnd_check` and keeps
    the same value on an unflagged claim; valid and unknown ids pass."""

    def claim(subj, value, check):
        return {
            "subj": subj, "kind": "claim", "pred": "P227", "obj_type": "extid",
            "obj_value": value, "rank": "normal", "qualifiers": "", "has_ref": False,
            "needs_gnd_check": check,
        }

    raw = _raw(
        spark,
        claim("checked_invalid", "bad", True),
        claim("unchecked_invalid", "bad", False),
        claim("checked_valid", "good", True),
        claim("checked_unknown", "unknown", True),
    )
    out = _link(spark, raw, valid_gnd=[("bad", False), ("good", True)])
    assert {r["subj"] for r in out.collect()} == {
        "unchecked_invalid", "checked_valid", "checked_unknown",
    }


def test_link_output_is_triples_schema(spark):
    """Every branch projects onto TRIPLES: 16 columns, none of the five
    columns only linking reads. A J1 miss parks as rescuable prop_text
    with has_ref null, so its J3 rescue carries a reference."""
    raw = _raw(
        spark,
        {**_cand("rescued", "extid", "P27", 27, "XX"), "fallback_property": 27,
         "fallback_text": "Germany"},
        {"subj": "label", "kind": "label", "obj_value": "A", "obj_lang": "en"},
    )
    out = _link(spark, raw, id_to_qid=[(0, "-", "Q183", "Germany", "Q6256")])
    assert out.schema == schemas.TRIPLES
    assert len(schemas.TRIPLES) == 16
    rescued = out.filter(F.col("kind") == "claim").collect()
    assert [(r["subj"], r["pred"], r["obj_value"], r["has_ref"]) for r in rescued] == [
        ("rescued", "P27", "Q183", True)
    ]


def test_route_drops_html(spark):
    pages = spark.createDataFrame(
        [
            {
                "url": "https://d-nb.info/gnd/100000099/about/lds.rdf",
                "warc_ts": datetime(2026, 1, 1),
                "html": b"<rdf/>",
                "text": "<rdf/>",
                "lang": "de",
            }
        ],
        schema=schemas.PAGES,
    )
    routed = route(pages)
    assert "html" not in routed.columns
    assert routed.select("source", "record_id").first() == ("gnd", "100000099")
