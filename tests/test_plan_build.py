"""Building the route, link and merge plans on the driver.

- `route` routes a sample URL of every ROUTES entry as Python's
  first-match `re.fullmatch` over ROUTES does, and drops a noise URL;
- building `merge_component`'s plan starts no Spark job;
- building the route, link and merge plans makes at most a fixed number
  of py4j round trips: each wide expression is one SQL string, not one
  call per Column node.

Every input is built here from Arrow tables, whose size estimates are
exact, so these run anywhere.
"""

import re
from datetime import datetime

import pyarrow as pa
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from auth2wd_spark import schemas
from auth2wd_spark.operators.extract import route
from auth2wd_spark.operators.linking import link
from auth2wd_spark.operators.merge import merge_component
from auth2wd_spark.sources.registry import ROUTES

SAMPLE_URLS = {
    "viaf": "https://viaf.org/viaf/24602065",
    "gnd": "https://d-nb.info/gnd/118540238/about/lds.rdf",
    "loc": "http://id.loc.gov/authorities/names/n79021164.rdf",
    "bnf": "https://data.bnf.fr/ark:/12148/cb11907966z.rdfxml",
    "isni": "https://isni.org/isni/0000000121032683",
    "idref": "https://www.idref.fr/026917483.rdf",
    "bne": "https://datos.bne.es/resource/XX1718747.rdf",
    "selibr": "https://libris.kb.se/resource/auth/181697/data.rdf",
    "ndl": "https://id.ndl.go.jp/auth/ndlna/00441326.rdf",
    "noraf": "https://authority.bibsys.no/authority/rest/authorities/v2/90053126",
    "nukat": "https://nukat.edu.pl/auth/n93013766",
    "nb": "http://data.bibliotheken.nl/id/thes/p068364229",
    "worldcat": "https://id.oclc.org/worldcat/entity/E39PBJtxgQXMWqmjMjjwXRHgrq.jsonld",
    "ulan": "http://vocab.getty.edu/ulan/500115493.rdf",
    "inaturalist": "https://www.inaturalist.org/taxa/47219",
    "ncbi": "https://eutils.ncbi.nlm.nih.gov/entrez/eutils/efetch.fcgi?db=taxonomy&id=9606&format=xml",
    "gbif": "https://api.gbif.org/v1/species/5219404",
    "gbif_images": (
        "https://api.gbif.org/v1/occurrence/search?limit=20&media_type=stillImage&taxon_key=5219404"
    ),
    "pubchem": "https://pubchem.ncbi.nlm.nih.gov/rest/pug_view/data/compound/2244/JSON/",
}
NOISE_URL = "https://example.org/page/1"

WITH_COMP = StructType([*schemas.TRIPLES.fields, StructField("component", StringType())])


def _local(spark, rows, schema):
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))


def _python_route(url):
    """(source, record id) of the first ROUTES entry that matches `url`."""
    for source, pattern in ROUTES:
        m = re.fullmatch(pattern, url)
        if m:
            return source, m.group(1)
    return None


def _pages(spark, urls):
    ts = datetime(2026, 1, 1)
    return _local(spark, [{"url": u, "warc_ts": ts, "text": "", "lang": "en"} for u in urls], schemas.PAGES)


def _dims(spark):
    return (
        _local(spark, [{"property": 227, "id": "1", "qid": "Q1", "label_en": "A", "p31": "Q5"}], schemas.ID_TO_QID),
        _local(spark, [{"source_key": "DNB", "id": "1", "viaf_id": "9"}], schemas.VIAF_LOOKUP),
        _local(spark, [{"gnd_id": "1", "valid": False}], schemas.VALID_GND_IDS),
    )


def _raw(spark):
    cand = {
        "subj": "s", "kind": "candidate", "pred": "P227", "has_ref": False,
        "cand_kind": "extid", "cand_property": 227, "cand_id": "1",
        "src_property": 227, "src_id": "1", "src_url": "test://page", "ord": 1,
    }
    return _local(spark, [cand], schemas.RAW)


def _with_comp(spark):
    base = {"src_property": 227, "src_id": "1", "src_url": "test://page", "ord": 1, "component": "c"}
    rows = [
        {**base, "subj": "s", "kind": "claim", "pred": "P569", "obj_type": "time",
         "obj_value": "+1900-01-01T00:00:00Z", "obj_precision": 9, "rank": "normal",
         "qualifiers": "", "has_ref": True},
        {**base, "subj": "s", "kind": "label", "obj_value": "A", "obj_lang": "en"},
        {**base, "subj": "s", "kind": "prop_text", "fallback_property": 27, "fallback_text": "X"},
    ]
    return _local(spark, rows, WITH_COMP)


def test_route_matches_python_first_match(spark):
    """Each sample URL routes to its own ROUTES entry with the id Python's
    `re.fullmatch` extracts, the first matching entry winning; the noise
    URL drops out."""
    assert set(SAMPLE_URLS) == {source for source, _ in ROUTES}
    urls = [*SAMPLE_URLS.values(), NOISE_URL]
    got = {r["url"]: (r["source"], r["record_id"]) for r in route(_pages(spark, urls)).collect()}
    assert got == {u: _python_route(u) for u in SAMPLE_URLS.values()}
    assert {source: got[url][0] for source, url in SAMPLE_URLS.items()} == {s: s for s in SAMPLE_URLS}


def test_merge_plan_build_starts_no_job(spark):
    """Building merge_component's plan starts no Spark job, with or
    without the reference cap: fix_dates joins its maxima without a
    size probe, so nothing is counted or collected while the plan is
    built."""
    with_comp = _with_comp(spark)
    sc = spark.sparkContext
    try:
        for ref_cap in (None, 2):
            group = f"merge-plan-build-{ref_cap}"
            sc.setJobGroup(group, "merge_component() plan build")
            tables = merge_component(with_comp, ref_cap=ref_cap)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tables["claims"].count() == 1


# py4j round trips of each plan build, measured with call-site capture off
# (the test session comes from session.build_session) and counted without
# py4j's memory-release commands, which follow Python's garbage collection.
CALL_BUDGET = {
    "route": 18,
    "link": 206,
    "link_label_retry": 249,
    "merge_component": 208,
}


def _calls(build) -> int:
    """py4j commands sent while `build()` runs, memory releases excluded."""
    sent = []
    original = ClientServerConnection.send_command

    def send_command(conn, command):
        sent.append(command)
        return original(conn, command)

    ClientServerConnection.send_command = send_command
    try:
        build()
    finally:
        ClientServerConnection.send_command = original
    return sum(not command.startswith("m\nd\n") for command in sent)


@pytest.mark.parametrize("plan", sorted(CALL_BUDGET))
def test_plan_build_call_budget(spark, plan):
    pages, raw, dims, with_comp = _pages(spark, [NOISE_URL]), _raw(spark), _dims(spark), _with_comp(spark)
    build = {
        "route": lambda: route(pages),
        "link": lambda: link(raw, *dims),
        "link_label_retry": lambda: link(raw, *dims, label_retry=True),
        "merge_component": lambda: merge_component(with_comp),
    }[plan]
    build()  # the first build looks up JVM classes and functions once
    first, second = _calls(build), _calls(build)
    assert first == second, "plan builds should make the same calls each time"
    assert first <= CALL_BUDGET[plan]
