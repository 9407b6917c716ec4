"""Parquet-directory fallback for the declared Iceberg pages layout
(plans/iceberg.py): days(warc_ts) partitioning must PRUNE at planning
time. This executes the same partition spec the DSv2 branch declares, so
the layout logic is proven even while the Iceberg runtime jar is absent
(tests/test_iceberg.py covers the gated DSv2 path itself).
"""

import contextlib
import io
import os
from datetime import datetime

import pytest

from auth2wd_spark.plans import iceberg as icb


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _pages(spark):
    from auth2wd_spark.schemas import PAGES

    rows = [
        (
            f"https://x.test/{d}/{i}",
            datetime(2026, 1, d, 10 + i, 0, 0),
            None,
            f"page {d}-{i}",
            "en",
        )
        for d in (1, 2, 3)
        for i in range(4)
    ]
    return spark.createDataFrame(rows, schema=PAGES)


def test_pages_partitioned_layout_prunes(spark, tmp_path):
    path = str(tmp_path / "pages_by_day")
    icb.write_pages_partitioned(_pages(spark), path)

    # one directory per UTC day, Hive-style
    days = sorted(d for d in os.listdir(path) if d.startswith("warc_day="))
    assert days == ["warc_day=2026-01-01", "warc_day=2026-01-02", "warc_day=2026-01-03"]

    recent = icb.read_pages_partitioned(spark, path, since="2026-01-02")
    assert recent.count() == 8

    plan = _plan(recent)
    # the latest-snapshot filter must land in PartitionFilters (planning-time
    # pruning), NOT as a post-scan data filter
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("warc_day" in l for l in part_lines)
    pushed_or_data = [
        l for l in plan.splitlines() if "PushedFilters" in l or l.strip().startswith("Filter")
    ]
    assert not any("warc_day" in l for l in pushed_or_data)


def test_pages_partitioned_day_is_utc_not_session_tz(spark, tmp_path):
    """Iceberg's days() transform floors epoch days in UTC; the fallback
    must produce the same directory for the same instant regardless of
    spark.sql.session.timeZone (to_date would shift 00:30 UTC back to the
    previous day under a negative-offset zone)."""
    # created under the default (UTC) session tz: a true 00:30 UTC instant
    df = _pages(spark).limit(0).union(
        spark.createDataFrame(
            [("https://x.test/tz", datetime(2026, 1, 2, 0, 30, 0), None, "p", "en")],
            schema=_pages(spark).schema,
        )
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    path = str(tmp_path / "pages_tz")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        icb.write_pages_partitioned(df, path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    days = [d for d in os.listdir(path) if d.startswith("warc_day=")]
    assert days == ["warc_day=2026-01-02"]


def test_pages_dispatcher_uses_parquet_fallback_offline(spark, tmp_path):
    if icb.iceberg_available(spark):
        pytest.skip("Iceberg runtime present: dispatcher takes the DSv2 branch")
    path = str(tmp_path / "pages_dispatch")
    icb.write_pages(_pages(spark), path)
    assert icb.read_pages_partitioned(spark, path).count() == 12
