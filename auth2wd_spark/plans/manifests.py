"""Per-stage lineage manifests for ``run_pipeline(stage_dir=...)``.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Every materialized stage writes, next to its parquet files,
a ``_MANIFEST.json`` recording:

  - per-file row counts and content hashes (order-insensitive xxhash64
    aggregate) — the per-partition lineage,
  - stage metrics (row count, wall seconds, rows/sec),
  - the names of the stages it reads (upstream lineage).

``materialize_stage`` is the resume point: if the stage directory already
holds a manifest whose file inventory matches what's on disk, the stage is
NOT recomputed — the parquet is read back (kill + rerun ⇒ identical
output, verified by tests/test_resume.py). A stage interrupted mid-write
leaves no manifest, so a rerun recomputes it from its inputs.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

MANIFEST = "_MANIFEST.json"


def content_hash(cols: list[str]) -> Column:
    """Order-insensitive content hash: the sum of every row's xxhash64."""
    return F.sum(F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)"))


def _file_inventory(spark: SparkSession, path: str) -> list[dict]:
    """(file, rows, content_hash) per parquet file in `path`."""
    df = spark.read.parquet(path)
    per_file = (
        df.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(F.count(F.lit(1)).alias("rows"), content_hash(df.columns).alias("content_hash"))
        .collect()
    )
    return sorted(
        (
            {
                "file": os.path.basename(r["_file"]),
                "rows": r["rows"],
                "content_hash": str(r["content_hash"]),
            }
            for r in per_file
        ),
        key=lambda d: d["file"],
    )


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST)


def stage_is_complete(spark: SparkSession, stage_dir: str) -> bool:
    """True iff a manifest exists and the parquet files on disk match it."""
    mpath = _manifest_path(stage_dir)
    if not os.path.exists(mpath):
        return False
    try:
        with open(mpath, encoding="utf-8") as fh:
            manifest = json.load(fh)
        on_disk = {
            f for f in os.listdir(stage_dir) if f.endswith(".parquet") or f.startswith("part-")
        }
        expected = {entry["file"] for entry in manifest["files"]}
        return expected <= on_disk and bool(expected)
    except (OSError, ValueError, KeyError):
        return False


def materialize_stage(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    stage_dir: str,
    inputs: list[str] | None = None,
) -> DataFrame:
    """Write-or-resume one pipeline stage; returns the stage read back from
    ``stage_dir``. ``build`` makes the stage's plan and is not called when
    the stage is already complete."""
    if stage_is_complete(spark, stage_dir):
        return spark.read.parquet(stage_dir)
    t0 = time.perf_counter()
    build().write.mode("overwrite").parquet(stage_dir)
    elapsed = time.perf_counter() - t0
    files = _file_inventory(spark, stage_dir)
    n_rows = sum(f["rows"] for f in files)
    manifest = {
        "stage": os.path.basename(stage_dir),
        "files": files,
        "metrics": {
            "rows": n_rows,
            "wall_sec": round(elapsed, 3),
            "rows_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else None,
        },
        "inputs": inputs or [],
    }
    with open(_manifest_path(stage_dir), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return spark.read.parquet(stage_dir)


def read_manifest(stage_dir: str) -> dict:
    with open(_manifest_path(stage_dir), encoding="utf-8") as fh:
        return json.load(fh)
