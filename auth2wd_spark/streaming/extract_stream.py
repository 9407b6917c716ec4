"""Structured Streaming front-end for the extraction pipeline.

The reference is request/response + batch CLI (src/main.rs:362-382); this
is the optional streaming extension (SURVEY §2.7): new page arrivals
stream in, extraction + linking run per micro-batch (foreachBatch so the
exact batch operators — including the multi-branch linking joins against
static dimension tables — are reused verbatim), and triples append to a
partitioned sink. Canonicalization (CC + merge) stays a periodic batch
job over the accumulated triples, which is the right cadence for a
global-graph operation.

``dedup_recrawls_stream`` shows the watermarked-stream shape: re-crawled
urls within the lateness window are dropped with state bounded by the
watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import PAGES


def read_page_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def dedup_recrawls_stream(pages: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Drop re-crawls of the same url arriving within the watermark window.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is what
    actually bounds dedup state by the watermark when the event-time column
    is not part of the key — plain dropDuplicates(['url']) keeps url state
    forever, which is fatal at crawl scale."""
    return pages.withWatermark("warc_ts", lateness).dropDuplicatesWithinWatermark(["url"])


def start_triples_stream(
    pages_stream: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
):
    """pages stream → linked triples written to `output_dir` (parquet,
    partitioned by micro-batch id): the 16 `schemas.TRIPLES` columns plus
    the `batch_id` partition column.

    foreachBatch reuses the batch extract+link operators unchanged. The
    write is IDEMPOTENT per micro-batch: each batch dynamically overwrites
    only its own ``batch_id=N`` partition, so a micro-batch retried after a
    mid-write failure replaces its partial output instead of duplicating it
    (foreachBatch alone is at-least-once; blind appends would double
    triples on retry).
    """
    from ..operators.extract import extract_pages
    from ..operators.linking import LINK_BROADCAST_MAX_ROWS, link
    from ..session import ship_package

    ship_package(pages_stream.sparkSession)

    # the dimension tables are static for the life of the stream, so the
    # round-5 broadcast gate is decided ONCE here — re-counting inside
    # every micro-batch would add two identical Spark jobs per batch to
    # the hot path (review finding r5)
    force_bc = (
        id_to_qid.count() <= LINK_BROADCAST_MAX_ROWS
        and viaf_lookup.count() <= LINK_BROADCAST_MAX_ROWS
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        raw = extract_pages(batch_df)  # checkpointed; route cache released
        try:
            triples = link(raw, id_to_qid, viaf_lookup, valid_gnd_ids, broadcast=force_bc)
            (
                triples.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                # writer-scoped (NOT session conf): other partitioned
                # overwrites in this session keep static semantics
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_dir)
            )
        finally:
            raw.unpersist()

    return (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_page_counts(pages_stream: DataFrame, window: str = "10 minutes", lateness: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window crawl-volume counts (late data folded
    into its window until the watermark passes)."""
    return (
        pages_stream.withWatermark("warc_ts", lateness)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )
