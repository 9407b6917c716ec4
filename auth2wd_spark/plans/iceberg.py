"""Iceberg table I/O (north_rule: "Iceberg table of Common-Crawl-style
pages" in, partitioned Iceberg sinks out).

The sandbox does not bundle the iceberg-spark-runtime jars, so every entry
point is gated on `iceberg_available()`: when the jars are on the
classpath the real `writeTo(...).partitionedBy(...)` DSv2 path runs; when
they are not, callers fall back to the parquet-directory layout (and tests
SKIP, they do not silently pass).

Partition specs (declared, not inferred):
  pages   — days(warc_ts): crawl batches arrive by time, and the
            latest-snapshot filter prunes to recent partitions;
  claims  — bucket(64, component): merge output is keyed by component and
            hot components are exactly what bucketing spreads;
  other item tables — bucket(16, component).

A catalog is configured at runtime (Iceberg catalogs instantiate lazily on
first reference, so no session restart is needed).
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_CATALOG = "a2w"

_ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath.

    Spark's own `Utils.classIsLoadable` answers without throwing, so the
    probe is two py4j round trips; a `Class.forName` that fails costs
    dozens more, which fetch the Java stack trace of the exception."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    utils = JavaClass("org.apache.spark.util.Utils", gateway._gateway_client)  # noqa: SLF001
    return bool(utils.classIsLoadable(_ICEBERG_CATALOG_CLASS))


def configure_catalog(
    spark: SparkSession, warehouse: str, name: str = DEFAULT_CATALOG
) -> str:
    """Register a Hadoop-backed Iceberg catalog at `warehouse`; returns name."""
    spark.conf.set(f"spark.sql.catalog.{name}", _ICEBERG_CATALOG_CLASS)
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)
    return name


def write_pages_iceberg(
    pages: DataFrame, table: str, catalog: str = DEFAULT_CATALOG
) -> None:
    """Create/replace the crawl-pages table partitioned by days(warc_ts)."""
    (
        pages.writeTo(f"{catalog}.{table}")
        .partitionedBy(F.days("warc_ts"))
        .createOrReplace()
    )


def read_pages_iceberg(
    spark: SparkSession, table: str, catalog: str = DEFAULT_CATALOG
) -> DataFrame:
    return spark.read.table(f"{catalog}.{table}")


def write_outputs_iceberg(
    tables: dict[str, DataFrame],
    namespace: str,
    catalog: str = DEFAULT_CATALOG,
    as_of: str = "2026-01-01",
) -> None:
    """Partitioned Iceberg sink for the merged item tables.

    claims bucket on component (64) — the hot-entity skew defense the
    north_rule names; remaining tables bucket narrower.
    """
    from .pipeline import attach_retrieved_date

    claims = attach_retrieved_date(tables["claims"], as_of)
    (
        claims.writeTo(f"{catalog}.{namespace}.claims")
        .partitionedBy(F.bucket(64, "component"))
        .createOrReplace()
    )
    for name in ("labels", "aliases", "descriptions", "prop_text", "members", "components"):
        (
            tables[name]
            .writeTo(f"{catalog}.{namespace}.{name}")
            .partitionedBy(F.bucket(16, "component"))
            .createOrReplace()
        )


# ---------------------------------------------------------------------------
# Parquet-directory fallback for the pages table: days(warc_ts) becomes a
# warc_day=YYYY-MM-DD partition directory (Spark prunes it via
# PartitionFilters), so the pages layout executes and is tested in any
# environment. Without the runtime the item tables are plain parquet
# directories (plans/pipeline.write_outputs); the DSv2 branch above swaps
# in when the runtime jar is present.
# ---------------------------------------------------------------------------


def write_pages_partitioned(pages: DataFrame, path: str) -> None:
    """Parquet fallback for `write_pages_iceberg`: one directory per UTC
    day of `warc_ts`, mirroring the days(warc_ts) transform.

    Iceberg's days() floors the epoch to UTC days; `to_date` on an
    instant TIMESTAMP would instead use spark.sql.session.timeZone, so a
    non-UTC deployment would shift rows across partition boundaries.
    Computing the day from the raw epoch keeps the layout identical to
    the DSv2 branch under ANY session timezone."""
    utc_day = F.date_from_unix_date(
        F.floor(F.col("warc_ts").cast("double") / F.lit(86400.0)).cast("int")
    )
    (
        pages.withColumn("warc_day", utc_day)
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(path)
    )


def read_pages_partitioned(spark: SparkSession, path: str, since: str | None = None) -> DataFrame:
    """Read the partitioned pages layout; `since` (YYYY-MM-DD) applies the
    latest-snapshot filter on the PARTITION column so pruning happens at
    planning time (explain shows it under PartitionFilters, not as a scan
    predicate)."""
    df = spark.read.parquet(path)
    if since is not None:
        df = df.filter(F.col("warc_day") >= F.lit(since))
    return df


def write_pages(pages: DataFrame, dest: str, catalog: str = DEFAULT_CATALOG) -> None:
    """Environment dispatcher: Iceberg DSv2 when the runtime is on the
    classpath (`dest` is a table name), else the parquet-directory layout
    (`dest` is a filesystem path). Both produce the days(warc_ts)
    partitioning the north_rule's pages table declares."""
    if iceberg_available(pages.sparkSession):
        write_pages_iceberg(pages, dest, catalog)
    else:
        write_pages_partitioned(pages, dest)
