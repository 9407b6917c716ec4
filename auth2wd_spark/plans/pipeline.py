"""End-to-end batch pipeline orchestration.

pages → route → latest-snapshot → extract → link → CC → assign → merge → sink.

Scale posture (north_rule):
  - routing/filtering is JVM-side regex inside whole-stage codegen;
  - extraction is Arrow-batched mapInArrow, embarrassingly parallel;
  - every linking join broadcasts a single-hit index (or pre-bucketed
    join at index sizes beyond broadcast);
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

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..operators.cc import assign_components, build_edges, connected_components
from ..operators.extract import extract_pages
from ..operators.linking import link
from ..operators.merge import merge_component
from ..session import ship_package


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


def run_pipeline(
    pages: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    config: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """The six item tables plus ``triples``, ``components`` and
    ``metrics`` (wall seconds of the extract, link, CC and assign phases).
    Per-phase shuffle, jobs and skew come from outside the program:
    ``kgbench/run.py --trace 1`` reads them per job group from the REST API."""
    config = config or PipelineConfig()
    ship_package(pages.sparkSession)

    t0 = time.perf_counter()
    raw = extract_pages(pages)  # checkpointed inside
    t1 = time.perf_counter()
    # link() fans raw out into ~6 branches and every downstream action
    # replans the whole lineage — localCheckpoint both materializes (no
    # recompute per branch) and truncates the logical plan. link()'s
    # construction stays on the link clock: it runs the dimension count()
    # gates that pick broadcast joins.
    triples = link(
        raw, id_to_qid, viaf_lookup, valid_gnd_ids, label_retry=config.label_retry
    ).localCheckpoint()
    t2 = time.perf_counter()
    labels = connected_components(build_edges(triples), max_iter=config.cc_max_iter)
    t3 = time.perf_counter()
    with_comp = assign_components(triples, labels)
    if config.salt_partitions > 0:
        # spread giant components over reducers before the merge groupBy;
        # the final agg still combines per (component, claim-key) because
        # the groupBy keys are unchanged — salting only drives the
        # repartition.
        salt = F.pmod(F.xxhash64("subj", "ord"), F.lit(config.salt_partitions))
        with_comp = with_comp.repartition(F.col("component"), salt)
    # materialize once: merge_component fans with_comp out to six tables,
    # and each would re-execute the triples × labels join if it stayed
    # lazy. With six consumers the checkpoint won at both measured scales
    # (BENCH/merge_withcomp_ab_result.txt; ARCHITECTURE.md, Merge).
    with_comp = with_comp.localCheckpoint()
    t4 = time.perf_counter()

    tables = merge_component(with_comp, ref_cap=config.ref_cap)
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
