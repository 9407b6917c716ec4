"""Streaming-style frequency sketches for corpus statistics at 100 TB.

Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) over the
corpus token stream, plus heavy-hitter extraction on top of it. The
sketch's value on a cluster is its BOUNDED AGGREGATION STATE: a
`groupBy(row, bucket)` over the raw token stream partial-combines into
at most depth×width cells per task regardless of vocabulary size —
exactly the property that lets a 100 TB frequency pass run without a
vocabulary-sized shuffle. Every hash is the package's portable 60-bit
md5 prefix so the DuckDB oracle replays the sketch bit-identically.

The classic guarantee: with width w and depth d, the estimate for any
term t satisfies  exact(t) ≤ est(t) ≤ exact(t) + 2·N/w  with
probability ≥ 1 − 2^−d (N = total token count) — overestimates only,
never under. `cms_heavy_hitters` therefore never MISSES a true heavy
hitter; it can only include near-threshold false positives, which the
verification column exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOKEN_SPLIT = r"\s+"


def _bucket(term_col, row: int, width: int):
    """Row `row`'s hash of a term into [0, width): portable md5 over the
    salted term, replayable verbatim by the oracle."""
    salted = F.concat(F.lit(f"cms{row}\x1f"), term_col)
    return F.pmod(
        F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long"),
        F.lit(width),
    )


def cms_sketch(
    documents: DataFrame,
    depth: int = 4,
    width: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build the count-min sketch of the corpus token stream: one row
    per non-empty (row, bucket) cell with its count.

    Physical shape: explode(tokens) → a depth-way projection union →
    ONE hash aggregation keyed on (row, bucket). The aggregation's key
    space is depth×width cells, so map-side combine collapses each
    task's token stream into at most that many rows before any shuffle
    — the sketch IS the partial-aggregation state, which is the whole
    point at web scale. Output ≤ depth·width rows total.
    """
    toks = documents.select(F.explode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)).alias("term"))
    # round 6: one pass over the token stream — posexplode of the per-token
    # depth-vector of cell buckets (the old depth-way unionAll re-scanned
    # and re-exploded the corpus `depth` times for identical (row, bucket)
    # pairs; posexplode's position IS the sketch row index)
    cells = toks.select(
        F.posexplode(
            F.array(*[_bucket(F.col("term"), i, width) for i in range(depth)])
        ).alias("row", "bucket")
    )
    return cells.groupBy("row", "bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def cms_heavy_hitters(
    documents: DataFrame,
    threshold: int | None = None,
    depth: int = 4,
    width: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int | None = None,
) -> DataFrame:
    """Heavy hitters via the count-min sketch: every DISTINCT term whose
    sketch estimate (min over the depth rows of its cell counts) reaches
    the threshold, with the exact count alongside.

    The threshold is either absolute (`threshold` occurrences) or
    relative (`threshold_ppm` parts-per-million of the total token
    count — the scale-invariant form a recurring corpus job wants). The
    relative test is pure BIGINT arithmetic, `est·1e6 ≥ total·ppm`, so
    no fp division can disagree between engines.

    Returns (term, cms_est, exact_cnt). `exact_cnt` is the verification
    column — it exists to expose the sketch's one-sided error
    (cms_est ≥ exact_cnt always; strict overestimates are collision
    victims). A production pass over 100 TB DROPS it: the candidate
    stream is filtered on the broadcast sketch alone, and the exact
    count — whose aggregation state is vocabulary-sized, not
    sketch-sized — is computed only for the tiny surviving candidate
    set, turning a vocabulary-wide shuffle into a heavy-hitter-wide one.

    Physical shape: the sketch (≤ depth·width rows) is explicitly
    broadcast; candidates = the per-term exact agg (doc_freq-bounded
    skew, same argument as textqc.term_stats); each candidate fans out
    to its `depth` cells, joins the broadcast sketch, and a fixed-size
    min-agg on term produces the estimate. One vocabulary-keyed hash
    agg, one broadcast join — no shuffle keyed on anything wider.
    """
    sketch = cms_sketch(documents, depth=depth, width=width, id_col=id_col, text_col=text_col)
    toks = documents.select(F.explode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)).alias("term"))
    # round 6: vocabulary-sized table feeding both the probe fan-out and
    # (as the exact sum of its counts) the relative-threshold total —
    # materialized once so the corpus token explode runs once here
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .localCheckpoint(eager=False)
    )
    probes = exact.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("row"), _bucket(F.col("term"), i, width).alias("bucket"))
                for i in range(depth)
            ])
        ).alias("cell"),
    ).select("term", "exact_cnt", F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
    )
    if (threshold is None) == (threshold_ppm is None):
        raise ValueError("pass exactly one of threshold / threshold_ppm")
    if threshold_ppm is not None:
        # total token count == Σ exact_cnt (every token lands in exactly
        # one term's count) — reuses the materialized vocabulary table
        # instead of a third corpus explode
        total = exact.agg(F.coalesce(F.sum("exact_cnt"), F.lit(0)).alias("total"))
        est = est.crossJoin(F.broadcast(total)).filter(
            F.col("cms_est") * F.lit(1_000_000) >= F.col("total") * F.lit(int(threshold_ppm))
        )
    else:
        est = est.filter(F.col("cms_est") >= int(threshold))
    return est.select("term", "cms_est", "exact_cnt")


# --- HyperLogLog (Flajolet, Fusy, Gandouet & Meunier, AofA 2007) --------
#
# The third sketch of the family: CMS answers "how often", Bloom answers
# "seen before", HLL answers "how many distinct" — the cardinality pass a
# 100 TB corpus job runs to size vocabularies, near-dup key spaces, and
# join plans without a distinct-keyed shuffle. Same portability contract
# as the others: the 60-bit md5-prefix hash and every harmonic-sum term
# are exact integers both engines reproduce verbatim.

_HLL_SCALE = 1_000_000_000_000_000  # 1e15 as an exact int
# 2^-r quantized to the scale, r = 0..61: the ONLY place the harmonic
# series touches floating point is this authoring-time table; at runtime
# both engines sum exact BIGINTs. Quantization error is <= 0.5/_HLL_SCALE
# per term (relative ~2^(r-1)/1e15 — negligible below register 40, and a
# register that high needs ~2^40 items per bucket).
_HLL_Q = tuple(round(_HLL_SCALE / 2**r) for r in range(62))


def _hll_am_scaled(p: int) -> float:
    """alpha_m · m² · scale as ONE authoring-time double — computed here
    and imported by the oracle so the two engines share the bit pattern."""
    m = 1 << p
    return 0.7213 / (1 + 1.079 / m) * m * m * _HLL_SCALE


def _hll_parts(value_col, p: int):
    """(bucket, rho) of the portable 60-bit hash: top p bits select the
    bucket, rho = leading-zero rank of the remaining 60-p bits (via the
    length of the minimal binary string — integer-exact in both engines,
    no log2 float boundary)."""
    tail = 60 - p
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll\x1f"), value_col)), 1, 15), 16, 10
    ).cast("long")
    w = h.bitwiseAND(F.lit((1 << tail) - 1))
    rho = F.when(w == 0, F.lit(tail + 1)).otherwise(
        F.lit(tail) - F.length(F.conv(w.cast("string"), 10, 2)) + 1
    )
    return F.shiftright(h, tail).alias("bucket"), rho.cast("int").alias("rho")


def hll_registers(
    values: DataFrame,
    value_col: str = "term",
    p: int = 10,
) -> DataFrame:
    """The HLL register table: one row per NON-EMPTY bucket with the max
    leading-zero rank seen — (bucket, register), ≤ 2^p rows.

    Physical shape mirrors cms_sketch: the groupBy(bucket).max state is
    bounded by 2^p cells no matter how many values stream through, so
    map-side combine collapses each task before any shuffle. No
    distinct() anywhere: duplicates cannot move a max.
    """
    if not 7 <= p <= 13:
        # p>=7 keeps the single alpha formula valid (m>=128); p<=13 keeps
        # the worst-case quantized harmonic sum (2^p * 1e15) inside int64
        raise ValueError(f"p must be in [7, 13], got {p}")
    bucket, rho = _hll_parts(F.col(value_col), p)
    return (
        values.select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_distinct(
    documents: DataFrame,
    p: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Estimate the corpus's distinct-token count (vocabulary size) from
    the HLL registers, with the exact count alongside for verification.

    Estimator: E_raw = alpha_m · m² / Σ_j 2^(−M_j), replaced by linear
    counting m·ln(m/V) when E_raw ≤ 2.5m and V (empty buckets) > 0 —
    the standard small-range correction; the 32-bit large-range
    correction does not apply to a 60-bit hash. The harmonic sum is an
    exact BIGINT: register counts × the authoring-time _HLL_Q table
    (one CASE-free element_at per distinct register value, ≤ 62 rows
    after the groupBy), V empty buckets contribute Q[0] each. Only the
    final one-row expression touches doubles, and alpha·m²·scale is a
    single authoring-time literal, so the runtime float ops are one
    division, one ln, one round — identical IEEE sequences per engine.

    Returns ONE row: (hll_est_milli, nonempty, zero_buckets, s_quant,
    exact_distinct). `exact_distinct` is the verification column — its
    aggregation state is vocabulary-sized; a production pass drops it
    and ships only the 2^p-bounded registers. Standard error of the
    estimate is 1.04/√(2^p) (~3.3% at p=10).
    """
    m = 1 << p
    am_scaled = _hll_am_scaled(p)  # authoring-time double literal
    toks = documents.select(
        F.explode(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)).alias("term")
    )
    regs = hll_registers(toks, "term", p=p)
    q_arr = F.array(*[F.lit(q) for q in _HLL_Q])
    by_rho = regs.groupBy("register").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    parts = by_rho.agg(
        F.coalesce(
            F.sum(F.col("cnt") * F.element_at(q_arr, F.col("register") + 1)), F.lit(0)
        )
        .cast("long")
        .alias("s_ne"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("nonempty"),
    )
    exact = toks.agg(F.countDistinct("term").cast("long").alias("exact_distinct"))
    v = F.lit(m) - F.col("nonempty")
    # greatest(1): a zero sum needs every bucket past register 50 — keep
    # the division total anyway
    s_quant = F.greatest(F.col("s_ne") + v * F.lit(_HLL_Q[0]), F.lit(1))
    e_raw = F.lit(am_scaled) / s_quant
    e = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return (
        parts.crossJoin(F.broadcast(exact))
        .select(
            F.round(e * 1000).cast("long").alias("hll_est_milli"),
            F.col("nonempty"),
            v.cast("long").alias("zero_buckets"),
            s_quant.cast("long").alias("s_quant"),
            F.col("exact_distinct"),
        )
    )
