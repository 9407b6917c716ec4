"""Physical-plan pins: the optimizations the engine is designed around
must be visible in `explain` output, not just assumed.

- pricing_summary: the filter reaches the parquet scan (PushedFilters)
  and the scan reads ONLY the projected columns (ReadSchema pruned);
- broadcast_link: the part-side join is a BroadcastHashJoin;
- extraction route: whole-stage codegen covers the regex CASE chain
  (no Python between scan and filter).
"""

import contextlib
import io
import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("AUTH2WD_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(autouse=True)
def _need_testdata():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"driver testdata not available: {SF_DIR}")


def test_pricing_summary_pushdown_and_pruning(spark):
    df = entry_mod.q_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # column pruning: the 16-col lineitem scan must read only the 5 used
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_shipdate"):
        assert col in read_schema
    for unused in ("l_comment", "l_orderkey", "l_partkey", "l_discount"):
        assert unused not in read_schema


def test_broadcast_link_uses_broadcast_join(spark):
    df = entry_mod.q_broadcast_link(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_route_stays_in_codegen(spark):
    from auth2wd_spark.operators.extract import route
    from auth2wd_spark.corpus.generate import build_corpus
    from auth2wd_spark import schemas

    pages = spark.createDataFrame(
        build_corpus(n_persons=5, noise_pages=5)["pages"], schema=schemas.PAGES
    )
    plan = _plan(route(pages))
    assert "codegen id" in plan  # regex CASE chain inside whole-stage codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_centroids_broadcast_no_cartesian(spark):
    """IVF assignment: the per-vector × centroid pairing must be a
    broadcast nested-loop of the tiny centroid table — never a
    CartesianProduct or a shuffled join of the full corpus."""
    df = entry_mod.queries()["ann_ivf_top1"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_capped_merge_is_window_free_two_stage(spark):
    """ref_cap path: two HashAggregate stages (per-(key,salt) partial,
    then per-key merge), no Window/Sort-based aggregation anywhere —
    windows on the claim key would re-create the giant-component
    single-reducer straggler the cap exists to avoid. The input holds
    P569 claims, so fix_dates' date branch stays in the plan (with none,
    the optimizer prunes it) and must be window-free too."""
    from pyspark.sql import functions as F

    from auth2wd_spark.operators.merge import merge_claims

    is_date = F.col("id") < 10
    with_comp = spark.range(100).select(
        F.lit("C").alias("component"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("subj"),
        F.col("id").alias("ord"),
        F.lit("claim").alias("kind"),
        F.when(is_date, "P569").otherwise("P214").alias("pred"),
        F.when(is_date, "time").otherwise("extid").alias("obj_type"),
        F.when(is_date, F.concat(F.lit("+19"), F.lpad(F.col("id").cast("string"), 2, "0"),
                                 F.lit("-01-01T00:00:00Z"))).otherwise("v").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.when(is_date, F.when(F.col("id") % 2 == 0, 9).otherwise(11)).alias("obj_precision"),
        F.lit("normal").alias("rank"),
        F.lit("").alias("qualifiers"),
        F.lit(True).alias("has_ref"),
        F.lit(214).alias("src_property"),
        F.col("id").cast("string").alias("src_id"),
        F.concat(F.lit("u://"), F.col("id").cast("string")).alias("src_url"),
        F.lit(None).cast("int").alias("fallback_property"),
        F.lit(None).cast("string").alias("fallback_text"),
    )
    claims = merge_claims(with_comp, ref_cap=5)
    plan = _plan(claims)
    assert "Window" not in plan
    assert "max_precision" in plan  # fix_dates' per-(component, pred) maxima
    assert "ShuffledHashJoin" in plan  # hinted, so AQE keeps the join's strategy
    assert plan.count("HashAggregate") >= 4  # 2 stages × (partial + final)
    assert claims.filter("rank = 'deprecated'").count() == 5  # the year-precision dates


def test_kmeans_training_plan_shape(spark):
    """train_centroids_kmeans per-iteration plan: the centroid-mean agg
    must be a partial+final HashAggregate pair (map-side combinable — at
    corpus scale the (centroid, dim) groupBy sees n_rows·dims values and
    only n_centroids·dims survive the partial stage), the assignment must
    broadcast the centroid table (never CartesianProduct), and no Window
    appears outside the fixed-size per-vector argmax."""
    from pyspark.sql import functions as F

    from auth2wd_spark.mlops.simsearch import _centroid_means, ivf_assign

    corpus = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=7) for _ in range(4)]).alias("embedding"),
    )
    cents = corpus.limit(4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = ivf_assign(corpus, cents, n_probe=1)
    assign_plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in assign_plan
    assert "CartesianProduct" not in assign_plan

    # round 5: the n_probe=1 argmax is a max_by aggregation — its
    # struct-ordered buffer lowers to a Sort-BASED partial+final pair
    # (structs aren't hash-agg mutable), but partial_max_by still reduces
    # the vec×centroid pairs map-side, so the shuffle carries ONE row per
    # vector instead of n_centroids rows per vector, and the whole
    # training iteration is WINDOW-FREE (the window variant shuffled and
    # sorted all 16N pair rows)
    assert "partial_max_by" in assign_plan, assign_plan  # map-side combine
    assert "Window [" not in assign_plan, assign_plan

    # the REAL per-iteration aggregation train_centroids_kmeans runs:
    # the (centroid, dim) MEAN agg itself must stay hash partial+final
    means = _centroid_means(corpus, cents, quant=1_000_000)
    means_plan = means._jdf.queryExecution().executedPlan().toString()
    assert means_plan.count("HashAggregate") >= 2, means_plan  # partial+final
    assert means_plan.count("SortAggregate") <= 2, means_plan  # max_by only
    assert "Window [" not in means_plan, means_plan


def test_link_indexes_broadcast_under_gate(spark):
    """Round-5 robustness pin (BENCH_r04 post-mortem): when the dimension
    tables are under BROADCAST_MAX_BYTES, every id→QID index join in
    link() must EXECUTE as a broadcast join — the choice may not be left
    to AQE, whose estimate-driven strategy flipped to six sort-merge
    shuffles of the full-width raw table in one environment. With AQE the
    final strategies exist only after execution, so the plan is read after
    an action on link()'s own DataFrame."""
    from auth2wd_spark import schemas
    from auth2wd_spark.corpus.generate import build_corpus
    from auth2wd_spark.operators.extract import extract_pages
    from auth2wd_spark.operators.linking import link

    corpus = build_corpus(n_persons=20, noise_pages=5)
    pages = spark.createDataFrame(corpus["pages"], schema=schemas.PAGES)
    id_to_qid = spark.createDataFrame(corpus["id_to_qid"], schema=schemas.ID_TO_QID)
    viaf_lookup = spark.createDataFrame(corpus["viaf_lookup"], schema=schemas.VIAF_LOOKUP)
    valid_gnd = spark.createDataFrame(corpus["valid_gnd_ids"], schema=schemas.VALID_GND_IDS)
    linked = link(extract_pages(pages), id_to_qid, viaf_lookup, valid_gnd)
    assert linked.collect()
    plan = linked._jdf.queryExecution().executedPlan().toString()
    # J1/J6/J3/J5 index joins + the J7 anti-join all broadcast; nothing
    # may shuffle the raw table: no sort-merge, no shuffled-hash
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
