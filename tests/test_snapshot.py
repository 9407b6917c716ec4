"""Re-crawl folding: latest warc_ts wins; adaptive payload-shuffle skip."""

from datetime import datetime

from pyspark.sql import functions as F

from auth2wd_spark import schemas
from auth2wd_spark.operators.extract import latest_snapshot, route


def _page(url, body, ts):
    return {
        "url": url,
        "warc_ts": datetime(2026, 1, 1, 0, 0, ts),
        "html": body.encode(),
        "text": body,
        "lang": "de",
    }


GND_OLD = """<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
 xmlns:gndo="https://d-nb.info/standards/elementset/gnd#">
<rdf:Description rdf:about="https://d-nb.info/gnd/100000099">
 <gndo:dateOfBirth>1900</gndo:dateOfBirth></rdf:Description></rdf:RDF>"""
GND_NEW = GND_OLD.replace("1900", "1901")


def _folds(snap) -> bool:
    """Whether the snapshot's plan aggregates pages (the payload fold)."""
    return "max_by" in snap._jdf.queryExecution().analyzed().toString()


def test_latest_crawl_wins(spark):
    url = "https://d-nb.info/gnd/100000099/about/lds.rdf"
    pages = spark.createDataFrame(
        [_page(url, GND_OLD, 1), _page(url, GND_NEW, 30), _page(url, GND_OLD, 10)],
        schema=schemas.PAGES,
    )
    snap = latest_snapshot(route(pages))
    assert _folds(snap)
    rows = snap.collect()
    assert len(rows) == 1
    assert "1901" in rows[0]["text"]


def test_unique_keys_skip_fold(spark):
    pages = spark.createDataFrame(
        [
            _page("https://d-nb.info/gnd/100000001/about/lds.rdf", GND_OLD, 1),
            _page("https://d-nb.info/gnd/100000002/about/lds.rdf", GND_NEW, 2),
        ],
        schema=schemas.PAGES,
    )
    snap = latest_snapshot(route(pages))
    assert not _folds(snap)
    assert snap.count() == 2
    assert set(snap.columns) == {"source", "record_id", "url", "text", "lang", "warc_ts"}


def test_nothing_routed_skips_fold(spark):
    pages = spark.createDataFrame(
        [_page("https://example.org/noise", GND_OLD, 1)], schema=schemas.PAGES
    )
    snap = latest_snapshot(route(pages))
    assert not _folds(snap)
    assert snap.count() == 0


def test_equal_timestamps_pick_by_url(spark):
    """Two URLs route to one key and were crawled at the same instant: the
    pick must depend on the rows, not on the order they arrive in."""
    http = _page("http://viaf.org/viaf/1", "http page", 5)
    https = _page("https://www.viaf.org/viaf/1", "https page", 5)
    picks = []
    for rows in ([http, https], [https, http]):
        pages = spark.createDataFrame(rows, schema=schemas.PAGES).coalesce(1)
        snap = latest_snapshot(route(pages))
        assert _folds(snap)
        picks.append(snap.collect())
    assert picks[0] == picks[1]
    assert [r["url"] for r in picks[0]] == ["https://www.viaf.org/viaf/1"]
