"""Output check: an order-insensitive content hash of every written table,
compared with the reference stored in ``expected.json``.

The hash is the sum of per-row ``xxhash64`` over all columns cast to
string, the same sum ``plans/manifests._file_inventory`` stores per file,
taken over the whole table and prefixed with its row count.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

OUTPUT_TABLES = (
    "claims",
    "labels",
    "aliases",
    "descriptions",
    "prop_text",
    "members",
    "components",
)
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def output_hashes(spark, out_dir: str) -> dict[str, str]:
    """Read back each written table and hash it, all tables in one job."""
    from functools import reduce

    parts = []
    for name in OUTPUT_TABLES:
        df = spark.read.parquet(os.path.join(out_dir, name))
        row_hash = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        parts.append(df.select(F.lit(name).alias("table"), row_hash.cast("decimal(38,0)").alias("h")))
    rows = (
        reduce(lambda a, b: a.unionAll(b), parts)
        .groupBy("table")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("h").alias("h"))
        .collect()
    )
    got = {r["table"]: f"{r['rows']}:{r['h']}" for r in rows}
    # an empty table forms no group
    return {name: got.get(name, "0:None") for name in OUTPUT_TABLES}


def load_expected(path: str = EXPECTED_PATH) -> dict:
    """workload → input variant → table → hash; empty when not recorded."""
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def mismatches(got: dict[str, str], want: dict[str, str] | None) -> list[str]:
    """Names of tables whose hash differs from the reference (all of them
    when there is no reference)."""
    if want is None:
        return sorted(got)
    return sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
