"""The parse step's RAW rows, pinned column by column from inline pages.

One GND page (a no-reference P27, the rescue policy on) and one WorldCat
page (an aggregator: no references, no rescue) go through `extract`; one
row of each kind must come out exactly as below, every RAW column named.
"""

import json

import pytest

from auth2wd_spark.operators.extract import extract
from auth2wd_spark.schemas import RAW

GND_URL = "https://d-nb.info/gnd/1234567-8/about/lds.rdf"
GND_PAGE = """<?xml version="1.0" encoding="UTF-8"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:gndo="https://d-nb.info/standards/elementset/gnd#">
<rdf:Description rdf:about="https://d-nb.info/gnd/1234567-8">
  <rdf:type rdf:resource="https://d-nb.info/standards/elementset/gnd#UndifferentiatedPerson"/>
  <gndo:gndIdentifier>1234567-8</gndo:gndIdentifier>
  <gndo:preferredNameForThePerson>Muster, Erika</gndo:preferredNameForThePerson>
  <gndo:variantNameForThePerson>Muster, E.</gndo:variantNameForThePerson>
  <gndo:gender rdf:resource="https://d-nb.info/standards/vocab/gnd/gender#notKnown"/>
  <gndo:geographicAreaCode rdf:resource="https://d-nb.info/standards/vocab/gnd/geographic-area-code#XA-DE"/>
  <gndo:professionOrOccupation rdf:resource="https://www.wikidata.org/wiki/Q36180"/>
</rdf:Description>
</rdf:RDF>"""

WC_URL = "https://id.oclc.org/worldcat/entity/E39PBJ.jsonld"
WC_PAGE = json.dumps(
    {
        "type": ["Person", "Organization"],
        "prefLabel": {"en": "Erika Muster"},
        "altLabel": {"en": ["E. Muster"]},
        "description": {"en": "German writer"},
    }
)

GND = {"subj": "P227:1234567-8", "src_property": 227, "src_id": "1234567-8", "src_url": GND_URL}
WC = {"subj": "P10832:E39PBJ", "src_property": 10832, "src_id": "E39PBJ", "src_url": WC_URL}


def _row(record, **cols):
    out = dict.fromkeys(RAW.names)
    out.update(record, **cols)
    return out


EXPECTED = {
    "claim with qualifiers": _row(
        GND, kind="claim", pred="P227", obj_type="extid", obj_value="1234567-8",
        rank="deprecated", qualifiers='[["P2241", "item", "Q68648103"]]',
        has_ref=True, needs_gnd_check=False, ord=1,
    ),
    "GND P27 candidate without reference": _row(
        GND, kind="candidate", pred="P27", qualifiers="", has_ref=False,
        cand_kind="extid", cand_property=297, cand_id="DE",
        fallback_property=297, fallback_text="DE", ord=7,
    ),
    "candidate with a denylisted fallback": _row(
        GND, kind="candidate", pred="P106", qualifiers="", has_ref=True,
        cand_kind="extid", cand_property=227, cand_id="Q36180",
        fallback_property=106, fallback_text=None, ord=8,
    ),
    "GND prop_text": _row(
        GND, kind="prop_text", has_ref=True, rescue=True, fallback_property=21,
        fallback_text="https://d-nb.info/standards/vocab/gnd/gender#notKnown", ord=4,
    ),
    "no-rescue prop_text": _row(
        WC, kind="prop_text", has_ref=False, rescue=False, fallback_property=31,
        fallback_text="Organization", ord=3,
    ),
    "label": _row(GND, kind="label", obj_value="Erika Muster", obj_lang="de", ord=5),
    "alias": _row(WC, kind="alias", obj_value="E. Muster", obj_lang="en", ord=5),
    "description": _row(
        WC, kind="description", obj_value="German writer", obj_lang="en", ord=6
    ),
}


@pytest.fixture(scope="module")
def raw_rows(spark):
    records = spark.createDataFrame(
        [
            ("gnd", "1234567-8", GND_URL, GND_PAGE, None),
            ("worldcat", "E39PBJ", WC_URL, WC_PAGE, None),
            # an unparsable page and an unknown source emit no rows
            ("gnd", "1", "https://d-nb.info/gnd/1/about/lds.rdf", "<not xml", None),
            ("nowhere", "1", "https://example.org/1", "{}", None),
        ],
        "source STRING, record_id STRING, url STRING, text STRING, extra_text STRING",
    )
    return [r.asDict() for r in extract(records).collect()]


def test_row_count(raw_rows):
    assert len(raw_rows) == 14
    assert {r["src_id"] for r in raw_rows} == {"1234567-8", "E39PBJ"}


@pytest.mark.parametrize("case", EXPECTED)
def test_raw_row(raw_rows, case):
    assert EXPECTED[case] in raw_rows
