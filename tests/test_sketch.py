"""Unit pins for the round-5 sketch/selection operators: count-min
heavy hitters (mlops/sketch.py), DSIR importance weights
(mlops/sampling.dsir_weights), and Bloom cross-snapshot dedup
(mlops/dedup.bloom_cross_dedup). The DuckDB equivalence of all three is
covered by tests/test_oracle.py; these tests pin the algorithmic
GUARANTEES each sketch advertises, using corpora engineered to make the
property discriminative (forced collisions, disjoint styles, planted
re-crawls)."""

import pytest
from pyspark.sql import functions as F

from auth2wd_spark.mlops.dedup import bloom_cross_dedup
from auth2wd_spark.mlops.sampling import dsir_weights
from auth2wd_spark.mlops.sketch import cms_heavy_hitters, cms_sketch


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------------
# count-min sketch


def _skewed_corpus(spark):
    rows = []
    # "hot" appears 40×, "warm" 12×, tail terms once each
    for i in range(40):
        rows.append((i, "hot"))
    for i in range(12):
        rows.append((100 + i, "warm"))
    for i in range(30):
        rows.append((200 + i, f"tail{i}"))
    return _docs(spark, rows)


def test_cms_never_underestimates_and_collides(spark):
    d = _skewed_corpus(spark)
    # width 4 forces collisions: 31 distinct terms into 4 buckets/row
    hh = cms_heavy_hitters(d, threshold=1, depth=2, width=4).collect()
    assert len(hh) == 32  # every distinct term survives threshold=1
    assert all(r["cms_est"] >= r["exact_cnt"] for r in hh)
    # with 32 terms in 4-wide rows, some estimate must be inflated
    assert any(r["cms_est"] > r["exact_cnt"] for r in hh)


def test_cms_no_false_negatives(spark):
    d = _skewed_corpus(spark)
    hh = {r["term"] for r in cms_heavy_hitters(d, threshold=12, width=8).collect()}
    # one-sided error: every TRUE heavy hitter is present
    assert {"hot", "warm"} <= hh


def test_cms_sketch_is_bounded(spark):
    d = _skewed_corpus(spark)
    cells = cms_sketch(d, depth=3, width=4).collect()
    assert len(cells) <= 3 * 4
    # each row preserves the total token mass
    total = sum(r["cnt"] for r in cells)
    assert total == 3 * 82  # 82 tokens × 3 rows


def test_cms_relative_threshold_matches_absolute(spark):
    d = _skewed_corpus(spark)
    # 82 tokens; 146342 ppm ≈ 12 occurrences (12*1e6 >= 82*146342 ✓,
    # 11*1e6 < 82*146342 ✓) — same cut as threshold=12
    rel = {r["term"] for r in cms_heavy_hitters(d, threshold_ppm=146342, width=8).collect()}
    ab = {r["term"] for r in cms_heavy_hitters(d, threshold=12, width=8).collect()}
    assert rel == ab


def test_cms_threshold_args_are_exclusive(spark):
    d = _skewed_corpus(spark)
    with pytest.raises(ValueError):
        cms_heavy_hitters(d)
    with pytest.raises(ValueError):
        cms_heavy_hitters(d, threshold=1, threshold_ppm=1)


# --------------------------------------------------------------------------
# DSIR importance weights


def test_dsir_separates_target_like_docs(spark):
    # target style: legal boilerplate; raw pool: half legal-ish, half spam
    target = _docs(
        spark,
        [(i, "the party of the first part agrees to the terms") for i in range(10)],
    )
    raw = _docs(
        spark,
        [(i, "the party of the first part agrees") for i in range(5)]
        + [(100 + i, "buy cheap pills now click here win") for i in range(5)],
    )
    out = {r["doc_id"]: r["dsir_micro"] for r in dsir_weights(raw, target, dim=64).collect()}
    legal = [out[i] for i in range(5)]
    spam = [out[100 + i] for i in range(5)]
    assert min(legal) > max(spam)  # every legal doc outranks every spam doc
    assert all(s < 0 for s in spam)  # spam features unseen in target → negative


def test_dsir_counts_features(spark):
    target = _docs(spark, [(0, "a b")])
    raw = _docs(spark, [(1, "a b c")])
    row = dsir_weights(raw, target, dim=16).collect()[0]
    # 3 unigrams + 2 bigrams
    assert row["n_features"] == 5


# --------------------------------------------------------------------------
# Bloom cross-snapshot dedup


def test_bloom_flags_every_recrawl(spark):
    seen = _docs(spark, [(i, f"unique document number {i} body text") for i in range(50)])
    recrawls = seen.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    out = {r["doc_id"]: r["maybe_seen"] for r in bloom_cross_dedup(seen, recrawls).collect()}
    assert len(out) == 50
    assert all(v == 1 for v in out.values())  # one-sided: never miss a dup


def test_bloom_fresh_docs_pass_at_sane_m(spark):
    seen = _docs(spark, [(i, f"unique document number {i} body text") for i in range(50)])
    fresh = _docs(spark, [(1000 + i, f"completely different text {i}") for i in range(50)])
    out = bloom_cross_dedup(seen, fresh, m_bits=1 << 20, k=3).collect()
    # 150 set bits in 2^20 → FP probability per doc ≈ (150/2^20)^3 ~ 3e-12
    assert all(r["maybe_seen"] == 0 for r in out)


def test_plan_shapes_are_broadcast_only(spark):
    """Scale pin: none of the three operators may shuffle-join. DSIR's
    log-ratio table, the CMS sketch, and the Bloom bit set are all
    provably small (≤ dim / depth·width / m_bits rows) and explicitly
    broadcast — a silent flip to SortMergeJoin would re-shuffle the
    corpus-sized side (the round-4 link-phase failure mode)."""
    docs = _docs(spark, [(i, f"w{i % 7} x{i % 3} common") for i in range(100)])

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(dsir_weights(docs.filter("doc_id%10!=0"), docs.filter("doc_id%10=0"), dim=64))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    p = plan(cms_heavy_hitters(docs, threshold_ppm=1000))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    p = plan(bloom_cross_dedup(docs.filter("doc_id%2=0"), docs.filter("doc_id%2!=0")))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_bloom_small_m_forces_false_positives(spark):
    seen = _docs(spark, [(i, f"unique document number {i} body text") for i in range(200)])
    fresh = _docs(spark, [(1000 + i, f"completely different text {i}") for i in range(200)])
    out = bloom_cross_dedup(seen, fresh, m_bits=64, k=3).collect()
    # 600 draws into 64 bits saturate the filter — collisions are the
    # POINT of this pin: maybe_seen is "maybe", not "surely"
    assert any(r["maybe_seen"] == 1 for r in out)


# --------------------------------------------------------------------------
# HyperLogLog


def test_hll_accuracy_at_scale(spark):
    """5 000 distinct tokens at p=10 (stderr 1.04/√1024 ≈ 3.3%): the
    estimate must land within 3σ ≈ 10%."""
    from auth2wd_spark.mlops.sketch import hll_distinct

    d = _docs(spark, [(i, " ".join(f"tok{j}" for j in range(i * 50, i * 50 + 50)))
                      for i in range(100)])  # 100 docs × 50 unique tokens
    row = hll_distinct(d, p=10).collect()[0]
    assert row["exact_distinct"] == 5000
    est = row["hll_est_milli"] / 1000.0
    assert abs(est - 5000) / 5000 < 0.10, est


def test_hll_small_range_linear_counting(spark):
    """30 distinct tokens: V stays near m, the linear-counting branch
    engages and is near-exact."""
    from auth2wd_spark.mlops.sketch import hll_distinct

    d = _docs(spark, [(1, " ".join(f"w{i}" for i in range(30)))])
    row = hll_distinct(d, p=10).collect()[0]
    assert row["zero_buckets"] > 900  # linear-counting regime
    assert abs(row["hll_est_milli"] / 1000.0 - 30) <= 2


def test_hll_duplicates_cannot_move_registers(spark):
    """max is duplicate-blind: a corpus with every token repeated 10×
    yields registers (and therefore an estimate) bit-identical to the
    distinct-once corpus."""
    from auth2wd_spark.mlops.sketch import hll_distinct, hll_registers

    once = _docs(spark, [(1, " ".join(f"w{i}" for i in range(200)))])
    tenx = _docs(spark, [(d, " ".join(f"w{i}" for i in range(200))) for d in range(10)])
    toks = lambda df: df.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    r1 = sorted((r["bucket"], r["register"]) for r in hll_registers(toks(once), p=10).collect())
    r2 = sorted((r["bucket"], r["register"]) for r in hll_registers(toks(tenx), p=10).collect())
    assert r1 == r2
    e1 = hll_distinct(once, p=10).collect()[0]
    e2 = hll_distinct(tenx, p=10).collect()[0]
    assert e1["hll_est_milli"] == e2["hll_est_milli"]


def test_hll_state_is_bounded(spark):
    """≤ 2^p register rows no matter the vocabulary — the property that
    keeps the 100 TB pass's aggregation state small."""
    from auth2wd_spark.mlops.sketch import hll_registers

    d = _docs(spark, [(i, " ".join(f"tok{j}" for j in range(i * 50, i * 50 + 50)))
                      for i in range(100)])
    toks = d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    regs = hll_registers(toks, p=7)
    assert regs.count() <= 128
    assert regs.groupBy("bucket").count().filter("count > 1").count() == 0


def test_hll_p_bounds(spark):
    from auth2wd_spark.mlops.sketch import hll_registers

    d = _docs(spark, [(1, "a b")])
    toks = d.select(F.col("text").alias("term"))
    with pytest.raises(ValueError):
        hll_registers(toks, p=6)
    with pytest.raises(ValueError):
        hll_registers(toks, p=14)
