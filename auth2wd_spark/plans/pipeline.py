"""End-to-end batch pipeline orchestration.

pages → route → latest-snapshot → extract → link → CC → assign → merge → sink.

`run_pipeline` is the only place that knows the stage order. Each stage
boundary goes through `_stage`, which either keeps the stage in the
session (localCheckpoint where a stage has several consumers) or, with
`stage_dir`, writes it as a parquet stage with a lineage manifest that a
rerun resumes from (plans/manifests.py).

Scale posture (north_rule):
  - routing/filtering is JVM-side regex inside whole-stage codegen;
  - extraction is Arrow-batched mapInArrow, embarrassingly parallel;
  - every linking join broadcasts a single-hit index while its base
    table is under the row gate, and is left to AQE above it;
  - CC is an Arrow-native driver union-find while the edge set fits the
    driver caps, and large-star/small-star rounds (each round
    checkpointed) past them;
  - the merge groupBy keys on (component, claim key) — partial
    aggregation absorbs hot components map-side; `salt_partitions`
    optionally pre-repartitions on a salted key to spread a
    pathological hot component across reducers before the final agg;
  - ``write_outputs(as_of=...)`` replaces the reference's Utc::now()
    (external_importer.rs:364) for deterministic P813 reference dates.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cc import assign_components, build_edges, connected_components
from ..operators.extract import extract_pages
from ..operators.linking import link
from ..operators.merge import merge_component
from ..session import ship_package
from .manifests import materialize_stage


@dataclass
class PipelineConfig:
    cc_max_iter: int = 25
    salt_partitions: int = 0  # >0: pre-shuffle hot components across N salts
    # >0: bound the per-claim reference/src_url arrays via the two-stage
    # salted slice agg — the single-claim-KEY skew defense a giant
    # component needs (see merge.merge_claims); None keeps full unions
    ref_cap: int | None = None
    # opt-in J2 label+extid retry (reference parity is OFF — see
    # ARCHITECTURE.md §3 deviation 7); plumbed through to link()
    label_retry: bool = False


ITEM_TABLES = ("claims", "labels", "aliases", "descriptions", "prop_text", "members")


def _stage(
    spark: SparkSession,
    stage_dir: str | None,
    name: str,
    build: Callable[[], DataFrame],
    inputs: list[str] | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """One stage boundary. Without ``stage_dir`` the stage stays in the
    session: ``build()``, localCheckpointed when ``checkpoint``. With it,
    the stage is written to (or resumed from) ``{stage_dir}/{name}`` with a
    manifest, and ``build`` is not called for a completed stage."""
    if stage_dir is None:
        df = build()
        return df.localCheckpoint() if checkpoint else df
    return materialize_stage(spark, build, os.path.join(stage_dir, name), inputs)


def run_pipeline(
    pages: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    config: PipelineConfig | None = None,
    stage_dir: str | None = None,
) -> dict[str, DataFrame]:
    """The six item tables plus ``triples``, ``components`` and
    ``metrics`` (wall seconds of the extract, link, CC and assign phases).
    Per-phase shuffle, jobs and skew come from outside the program:
    ``kgbench/run.py --trace 1`` reads them per job group from the REST API.

    With ``stage_dir``, raw, triples, components and the six item tables
    are parquet stages under it (see plans/manifests.py), and a rerun
    resumes from the stages a previous run completed."""
    config = config or PipelineConfig()
    spark = pages.sparkSession
    ship_package(spark)
    stage = partial(_stage, spark, stage_dir)

    t0 = time.perf_counter()
    # extract_pages localCheckpoints RAW and releases the route cache
    raw = stage("raw", lambda: extract_pages(pages))
    t1 = time.perf_counter()
    # link() fans raw out into ~6 branches and every downstream action
    # replans the whole lineage — localCheckpoint both materializes (no
    # recompute per branch) and truncates the logical plan. link()'s
    # construction stays on the link clock: it runs the dimension count()
    # gates that pick broadcast joins.
    triples = stage(
        "triples",
        lambda: link(raw, id_to_qid, viaf_lookup, valid_gnd_ids, label_retry=config.label_retry),
        inputs=["raw"],
        checkpoint=True,
    )
    t2 = time.perf_counter()
    labels = stage(
        "components",
        lambda: connected_components(build_edges(triples), max_iter=config.cc_max_iter),
        inputs=["triples"],
    )
    t3 = time.perf_counter()
    with_comp = assign_components(triples, labels)
    if config.salt_partitions > 0:
        # spread giant components over reducers before the merge groupBy;
        # the final agg still combines per (component, claim-key) because
        # the groupBy keys are unchanged — salting only drives the
        # repartition.
        salt = F.pmod(F.xxhash64("subj", "ord"), F.lit(config.salt_partitions))
        with_comp = with_comp.repartition(F.col("component"), salt)
    # materialize once in both modes: merge_component fans with_comp out to
    # six tables, and each would re-execute the triples × labels join if it
    # stayed lazy. With six consumers the checkpoint won at both measured
    # scales (BENCH/merge_withcomp_ab_result.txt; ARCHITECTURE.md, Merge).
    with_comp = with_comp.localCheckpoint()
    t4 = time.perf_counter()

    merged = merge_component(with_comp, ref_cap=config.ref_cap)
    tables = {
        name: stage(name, lambda: merged[name], inputs=["triples", "components"])
        for name in ITEM_TABLES
    }
    tables["triples"] = triples
    tables["components"] = labels
    tables["metrics"] = {
        "extract_sec": round(t1 - t0, 3),
        "link_sec": round(t2 - t1, 3),
        "cc_sec": round(t3 - t2, 3),
        "assign_sec": round(t4 - t3, 3),
    }
    return tables


def attach_retrieved_date(claims: DataFrame, as_of: str) -> DataFrame:
    """Expand compact references into full Wikibase reference snak groups
    (P248 stated-in, P{src} id, P813 retrieved = as_of) — sink-side only."""
    ref_struct = F.transform(
        "references",
        lambda r: F.struct(
            r["stated_in"].alias("stated_in"),
            r["src_prop"].alias("src_prop"),
            r["src_id"].alias("src_id"),
            F.lit(as_of).alias("retrieved"),
        ),
    )
    return claims.withColumn("references", ref_struct)


def write_outputs(tables: dict[str, DataFrame], out_dir: str, as_of: str = "2026-01-01") -> bool:
    """Partitioned item-table sink.

    When the Iceberg runtime is on the classpath, writes REAL Iceberg
    tables (hadoop catalog at `out_dir`, bucket-partitioned on component —
    see plans/iceberg.py) and returns True; otherwise falls back to the
    plain parquet-directory layout and returns False so callers can surface
    which path ran."""
    from .iceberg import configure_catalog, iceberg_available, write_outputs_iceberg

    spark = tables["claims"].sparkSession
    if iceberg_available(spark):
        catalog = configure_catalog(spark, warehouse=out_dir)
        write_outputs_iceberg(tables, namespace="kg", catalog=catalog, as_of=as_of)
        return True

    claims = attach_retrieved_date(tables["claims"], as_of)
    claims.write.mode("overwrite").parquet(f"{out_dir}/claims")
    for name in ("labels", "aliases", "descriptions", "prop_text", "members", "components"):
        tables[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")
    return False
