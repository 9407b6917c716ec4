"""Item-JSON and N-Triples sinks over the pipeline's item tables."""

import json

import pytest

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import build_corpus
from auth2wd_spark.plans.pipeline import run_pipeline
from auth2wd_spark.plans.sink import items_json, ntriples


@pytest.fixture(scope="module")
def corpus():
    return build_corpus(n_persons=8, noise_pages=2)


@pytest.fixture(scope="module")
def tables(spark, corpus):
    return run_pipeline(
        spark.createDataFrame(corpus["pages"], schema=schemas.PAGES),
        spark.createDataFrame(corpus["id_to_qid"], schema=schemas.ID_TO_QID),
        spark.createDataFrame(corpus["viaf_lookup"], schema=schemas.VIAF_LOOKUP),
        spark.createDataFrame(corpus["valid_gnd_ids"], schema=schemas.VALID_GND_IDS),
    )


def test_items_json(tables):
    out = items_json(tables)
    rows = out.collect()
    assert rows
    doc = json.loads(rows[0]["item_json"])
    assert doc["item"]["type"] == "item"
    # every claim is parseable and carries property/type/value
    some = [r for r in rows if json.loads(r["item_json"])["item"].get("claims")]
    claims = json.loads(some[0]["item_json"])["item"]["claims"]
    c0 = json.loads(claims[0])
    assert {"property", "type", "value", "rank"} <= set(c0)


def test_ntriples(tables):
    lines = [r["line"] for r in ntriples(tables["triples"]).collect()]
    assert lines
    assert all(line.endswith(" .") for line in lines)
    assert any("<http://www.wikidata.org/entity/Q5>" in line for line in lines)
