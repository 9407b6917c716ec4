"""pages → raw triples: JVM-side routing + vectorized parse UDF.

Routing (url → source, record id) compiles the registry's regex table into
a single JVM-side CASE/regexp_extract expression so noise pages are
filtered inside whole-stage codegen before any Python is involved —
the Catalyst analog of the reference's parser-availability filter
(/root/reference/src/combinator.rs:66-70).

Parsing runs in ``mapInArrow`` (Arrow record batches end to end); one
small in-memory graph per record, never a cluster-wide structure
(SURVEY.md §1.1).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import get_lit_sql_str

from ..functions.extid import do_not_use_external_url, subj_key
from ..schemas import RAW
from ..sources.registry import PARSERS, ROUTES, parse_record


# CASE tests its branches in order, so the first matching route wins
_SOURCE = "CASE {} END".format(
    " ".join(
        f"WHEN regexp_like(url, {get_lit_sql_str(p)}) THEN {get_lit_sql_str(s)}" for s, p in ROUTES
    )
)
_RECORD_ID = "CASE source {} END".format(
    " ".join(
        f"WHEN {get_lit_sql_str(s)} THEN regexp_extract(url, {get_lit_sql_str(p)}, 1)"
        for s, p in ROUTES
    )
)


def route(pages: DataFrame) -> DataFrame:
    """Tag each page with (source, record_id); unroutable pages drop out.

    Only `url, warc_ts, text, lang` carry on: no later stage reads
    `html`, so it stays out of the route persist in `extract_pages`.

    Two-step on purpose: the `source` CASE chain is the only expression
    that runs over every (mostly noise) page; id extraction keys off the
    already-computed `source` column and therefore runs one regex on the
    tiny routed fraction instead of re-matching the whole table.
    """
    routed = pages.selectExpr("url", "warc_ts", "text", "lang", f"{_SOURCE} AS source").filter(
        "source IS NOT NULL"
    )
    return routed.selectExpr("*", f"{_RECORD_ID} AS record_id")


def latest_snapshot(routed: DataFrame) -> DataFrame:
    """One row per (source, record_id): the latest crawl snapshot wins.

    The fold is a max_by aggregation with a partial map-side combine; on
    Spark 4.1 max_by over string values plans as a SortAggregate, so each
    side of its shuffle sorts the rows by key. It shuffles full page
    payloads, the single most expensive move in the pipeline. So first
    probe for duplicates on the NARROW key columns only (cheap shuffle of
    ids); when every key is already unique — common for curated snapshots
    — the payload shuffle is skipped entirely. Re-crawled corpora pay it
    once, as they must.

    Different URLs can share one key (``http://viaf.org/viaf/1`` and
    ``https://www.viaf.org/viaf/1``); when they were crawled at the same
    instant the greater URL wins, so the pick never depends on row order.
    """
    keys = routed.groupBy("source", "record_id")
    # no LIMIT: a limit's generated code names a counter that is numbered
    # anew in every run, so its classes would be compiled again each time
    # (ARCHITECTURE.md, Generated code); NULL when nothing was routed
    dup = keys.agg(F.expr("count(1) AS n")).selectExpr("max(n) > 1").collect()[0][0]
    if not dup:
        return routed.selectExpr("source", "record_id", "url", "text", "lang", "warc_ts")
    return keys.agg(
        F.expr("max_by(struct(url, text, lang), struct(warc_ts, url)) AS s"),
        F.expr("max(warc_ts) AS warc_ts"),
    ).selectExpr("source", "record_id", "s.url", "s.text", "s.lang", "warc_ts")


def attach_secondary_bodies(records: DataFrame) -> DataFrame:
    """Join two-page sources (GBIF species + occurrence images) on record id.

    The images side is a small filtered slice → broadcast-joined; primary
    records pass through untouched (SURVEY §2.1 S16).
    """
    extra = records.filter("source = 'gbif_images'").selectExpr(
        "record_id AS x_record_id", "text AS extra_text"
    )
    primary = records.filter("source != 'gbif_images'")
    return primary.join(
        F.broadcast(extra), F.expr("source = 'gbif' AND record_id = x_record_id"), "left"
    ).drop("x_record_id")


_NO_RESCUE_SOURCES = ("worldcat", "inaturalist", "ncbi", "gbif", "pubchem")


def _record_rows(
    source: str, record_id: str, url: str, text: str, extra: str | None
) -> list[dict]:
    """Parse one record → its RAW rows: the builder's own row dicts,
    finished in place and keyed by RAW column name (a missing key is NULL).

    On the Arrow path the batch build costs about as much from these
    dicts as from positional tuples (ARCHITECTURE.md, "Arrow batch
    assembly"), so the record keeps one form from parser to batch.
    """
    parsed = None if text is None else parse_record(source, record_id, text, extra)
    if parsed is None:
        return []
    eff_id, b = parsed
    parser = PARSERS[source]
    record = {
        "subj": subj_key(parser.property, eff_id),
        "src_property": parser.property,
        "src_id": eff_id,
        "src_url": url,
    }
    rescues = source not in _NO_RESCUE_SOURCES
    for r in b.rows:
        kind = r["kind"]
        if kind == "claim":
            quals = r["qualifiers"]
            r["qualifiers"] = json.dumps([list(q) for q in quals]) if quals else ""
        elif kind == "candidate":
            r["qualifiers"] = ""
            fb = r["fallback_text"]
            if fb is not None and do_not_use_external_url(fb):
                r["fallback_text"] = None  # denylisted fallback never becomes prop_text
        elif kind == "prop_text":
            # a later rescue claim inherits the parser's per-property
            # reference policy (e.g. GND never references P27)
            r["has_ref"] = parser.ref_for_property(r["fallback_property"])
            r["rescue"] = rescues
        r.update(record)
    return b.rows


def extract(records: DataFrame) -> DataFrame:
    """records (source, record_id, url, text, extra_text) → RAW triples.

    Round 6: ``mapInArrow`` instead of ``mapInPandas`` — the parse emits
    ~10 rows × 21 columns per page, and the pandas path paid a
    ``DataFrame.from_records`` object frame plus Spark's pandas→Arrow
    conversion per batch. Building the Arrow record batch directly skips
    both (measured: parse noop 3.8–5.2 s → 3.3–3.5 s at the sf0.1 bench
    corpus; output verified row-identical via two-sided exceptAll).
    """
    cols = ["source", "record_id", "url", "text", "extra_text"]

    def parse_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        # one struct array converts every row dict in C++, reading each RAW
        # column by name (a missing key is NULL)
        raw_type = pa.struct(to_arrow_schema(RAW))
        for batch in batches:
            names = batch.schema.names
            ix = [names.index(c) for c in cols]
            rows: list[dict] = []
            # .to_pylist() once per column: plain-object iteration, no
            # per-element boxing
            for source, record_id, url, text, extra in zip(
                *[batch.column(i).to_pylist() for i in ix]
            ):
                rows.extend(_record_rows(source, record_id, url, text, extra))
            yield pa.RecordBatch.from_struct_array(pa.array(rows, type=raw_type))

    return records.selectExpr(*cols).mapInArrow(parse_batches, schema=RAW)


def extract_pages(pages: DataFrame) -> DataFrame:
    """Full pages → RAW chain: route → latest snapshot → pair → parse.

    The routed frame is persisted across its three consumers (duplicate
    probe, secondary-body broadcast build, parse input) — the 19-regex
    route scan is the most expensive JVM expression in the pipeline and
    must run once, not once per consumer.
    """
    from pyspark import StorageLevel

    routed = route(pages).persist(StorageLevel.MEMORY_AND_DISK)
    # eager localCheckpoint: materializes once, truncates lineage, and
    # lets us RELEASE the route cache here — repeated pipeline runs must
    # not accumulate cached route copies (storage-memory leak → GC drag)
    raw = extract(attach_secondary_bodies(latest_snapshot(routed))).localCheckpoint()
    routed.unpersist()
    return raw
