"""Linking joins J5–J7 on hand-built RAW rows and tiny dimension tables,
plus the narrow stage contracts (TRIPLES layout, route without `html`).

No reference fixtures: every input is built here, so these run anywhere.
"""

from datetime import datetime

from pyspark.sql import functions as F

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
