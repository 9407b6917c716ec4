"""Seeded benchmark inputs, built from the corpus generator's pure functions.

Each workload turns ``--seed`` into row lists with ``person_pages``,
``person_dims`` and ``noise_page`` (``auth2wd_spark/corpus/generate.py``)
and writes them as parquet files that the pipeline reads. The reference
fixture pages are never included, so the corpus does not depend on which
files the host happens to have.

The seed selects one of ``VARIANTS`` input variants. Each variant has a
stored reference hash of every output table (``expected.json``), so every
run, whatever its seed, is checked against a reference.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import timedelta

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import (
    noise_page,
    person_dims,
    person_pages,
    synthetic_corpus,
)

VARIANTS = 16
WIKIDATA_COVERAGE = 0.6
PAGE_FILES = 8  # parquet files per pages table: one scan task per file


@dataclass(frozen=True)
class Shape:
    """Input properties the pipeline's behaviour depends on."""

    persons: int  # persons with authority pages
    hot_fraction: float  # share of persons sameAs-linked into one component
    noise_per_person: float  # unroutable pages per person
    snapshots: int  # crawl snapshots per authority URL (1 = no recrawl)


WORKLOADS = {
    # bench.py's shape at 2% of its 200,000 persons (sf0.1): a process must
    # end in about a minute, and a warm run at 1,500 persons takes 90% of
    # the time one at 4,000 takes, so per-job cost dominates either way
    "person_graph": Shape(persons=4_000, hot_fraction=0.1, noise_per_person=0.1, snapshots=1),
    # Common Crawl's shape: mostly noise, every authority URL re-crawled
    # with different bodies. Sized from traced runs: at 70 noise pages per
    # person and 8 snapshots, link (21 jobs, about 6 s of executor time
    # whatever the record count) outweighed route plus the snapshot fold;
    # at 150 and 12 they outweigh it
    "crawl_recrawl": Shape(persons=1_000, hot_fraction=0.1, noise_per_person=150.0, snapshots=12),
}


def variant_of(seed: int) -> int:
    return seed % VARIANTS


def build_rows(shape: Shape, seed: int) -> dict[str, list[dict]]:
    """Row dicts of the four input tables for one seed (pure)."""
    rng = random.Random(variant_of(seed))
    span = shape.persons * 5 // 4
    ids = sorted(rng.sample(range(span), shape.persons))
    hot_n = max(1, int(span * shape.hot_fraction))

    # the static dimension rows (occupations, countries) the generator adds
    # before any person; n_persons=0 yields exactly those
    _, id_to_qid, viaf_lookup, valid_gnd = synthetic_corpus(n_persons=0, noise_pages=0)

    pages: list[dict] = []
    for i in ids:
        for page in person_pages(i, hot_n):
            pages.extend(_snapshots(page, i, shape.snapshots, rng))
        pid, pvl, pvg = person_dims(i, WIKIDATA_COVERAGE)
        id_to_qid.extend(pid)
        viaf_lookup.extend(pvl)
        valid_gnd.extend(pvg)
    n_noise = int(shape.persons * shape.noise_per_person)
    pages.extend(noise_page(k) for k in rng.sample(range(n_noise * 4), n_noise))
    rng.shuffle(pages)
    return {
        "pages": pages,
        "id_to_qid": id_to_qid,
        "viaf_lookup": viaf_lookup,
        "valid_gnd_ids": valid_gnd,
    }


def _snapshots(page: dict, i: int, n: int, rng: random.Random) -> list[dict]:
    """The page plus ``n - 1`` older crawls of the same URL whose bodies
    name the person differently, so picking any snapshot but the latest
    changes the output tables."""
    out = [page]
    ages = rng.sample(range(1, 10_000), n - 1)
    for k, age in enumerate(ages, start=1):
        text = page["text"].replace(f"Given{i}", f"Given{i}r{k}")
        out.append(
            {
                **page,
                "warc_ts": page["warc_ts"] - timedelta(seconds=age),
                "html": text.encode("utf-8"),
                "text": text,
            }
        )
    return out


SCHEMAS = {
    "pages": schemas.PAGES,
    "id_to_qid": schemas.ID_TO_QID,
    "viaf_lookup": schemas.VIAF_LOOKUP,
    "valid_gnd_ids": schemas.VALID_GND_IDS,
}


def write_inputs(rows: dict[str, list[dict]], out_dir: str) -> dict[str, str]:
    """Write each table as parquet under ``out_dir``; returns the paths.

    Pages are split over PAGE_FILES files so the scan runs in parallel."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    paths = {}
    for name, table_rows in rows.items():
        schema = to_arrow_schema(SCHEMAS[name])
        path = os.path.join(out_dir, name)
        os.makedirs(path, exist_ok=True)
        files = PAGE_FILES if name == "pages" else 1
        step = -(-len(table_rows) // files)
        for f in range(files):
            chunk = pa.Table.from_pylist(table_rows[f * step : (f + 1) * step], schema=schema)
            pq.write_table(chunk, os.path.join(path, f"part-{f:03d}.parquet"))
        paths[name] = path
    return paths
