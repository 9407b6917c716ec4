"""Connected components over the record ↔ external-id graph.

Replaces the reference's sequential fixpoint worklist
(/root/reference/src/combinator.rs:132-180): records that share any
supported external id (or an inferred VIAF id, combinator.rs:137-147)
belong to one cluster. The crawl loop's BFS rounds become iterations of
min-label propagation with pointer jumping (path halving), which converges
in O(log d) rounds; each round is one shuffle on the label table and is
localCheckpoint()ed to cut lineage (SURVEY §3.2).

Hot entities (a celebrity VIAF id in millions of pages) make high-degree
nodes; label propagation handles them in the groupBy(min) — a single
reduce key — and AQE skew-join splitting covers the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..properties import P_VIAF, SUPPORTED_PROPERTIES
from .linking import broadcast_hint

EDGE_PROPERTIES = tuple(sorted(set(SUPPORTED_PROPERTIES) | {P_VIAF}))
# the property number of a `P{n}` predicate, as SQL
_PROP_NUM = "CAST(regexp_extract(pred, '^P([0-9]+)$', 1) AS INT)"


def build_edges(triples: DataFrame) -> DataFrame:
    """(subj ↔ P{prop}:{id}) edges from non-deprecated external-id claims.

    Mirrors MetaItem::get_external_ids (meta_item.rs:175-182) + the
    parser-availability filter (combinator.rs:53-57): only properties with
    a registered parser (plus P214) can link records into one cluster.
    """
    return (
        triples.filter(
            "kind = 'claim' AND obj_type = 'extid' AND rank != 'deprecated'"
            f" AND {_PROP_NUM} IN ({', '.join(map(str, EDGE_PROPERTIES))})"
        )
        .selectExpr("subj AS src", f"concat('P', CAST({_PROP_NUM} AS STRING), ':', obj_value) AS dst")
        .distinct()
    )


LOCAL_CC_THRESHOLD = 32_000_000
# cap on the total src+dst string bytes the driver union-find may collect.
# Sized from measurement, not folklore: the round-2 pandas path multiplied
# key bytes ~4× in Python-object heap, which set the original 256 MiB cap;
# the round-3 Arrow-native path holds keys as Arrow buffers and the
# measured end-to-end working set is ~5× key bytes (448 MB of keys → 2.23 GB
# Python-driver peak RSS, BENCH/cc_gate_ab_result.json — combine_chunks
# copy + dictionary_encode + numpy code/rank arrays). At the 1 GiB cap
# the driver peak is ~5 GB, fine for any cluster driver sized ≥16 GB. The
# same A/B measured the crossover the gate encodes: at 9.05M edges / 448 MB
# keys (OVER the old cap) driver-exact ran 23.3/48.8 s vs the star path's
# 284.4/194.7 s on identical checksummed output — the old gate was forcing
# a 4-12× slower plan at sandbox scale. Past the cap, edges genuinely
# outgrow one machine and the distributed star rewrites are the only path.
LOCAL_CC_BYTE_CAP = 1024 * 1024 * 1024


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges (src, dst) → (node, component) with component = min node id.

    Two physical strategies behind one contract (both deterministic —
    component ids are the lexicographic minimum member key):

      - edge sets under LOCAL_CC_THRESHOLD collect to the driver for an
        exact union-find — the same small-side-goes-local reasoning AQE
        applies to joins; anything a test or SF-scale bench produces takes
        this path in microseconds instead of paying per-iteration Spark
        job overhead;
      - larger graphs run alternating large-star/small-star rounds
        (Kiveris et al., "Connected Components in MapReduce and Beyond"):
        edge-set rewrites that converge in O(log²) rounds, each round two
        shuffles, localCheckpoint()ed to cut lineage, converging when the
        edge multiset checksum stabilizes. Hot (high-degree) entity nodes
        are exactly what large-star splits across reducers.
    """
    spark = edges.sparkSession
    # the edge count and key bytes are observed on the checkpoint job that
    # materializes `proper` (one materialization feeds both paths), so no
    # separate job computes them
    stats = Observation()
    proper = (
        edges.selectExpr("src", "dst")
        .filter("src != dst")
        .observe(
            stats,
            F.expr("count(1) AS n"),
            # octet_length, not length: the cap reasons about driver heap
            # BYTES, and UTF-8 keys are up to 4 bytes per character
            F.expr("sum(octet_length(src) + octet_length(dst)) AS key_bytes"),
        )
        .localCheckpoint()
    )
    observed = stats.get
    n_edges, key_bytes = observed["n"], observed["key_bytes"]
    if n_edges == 0:
        return spark.createDataFrame([], "node STRING, component STRING")
    # the driver path is gated by BYTES, not just edge count — 2M edges of
    # long URI keys is driver-OOM territory even when the count looks safe.
    # It consumes the DIRECTED edges as-is: the vectorized min-label sweep
    # applies minimum.at on both endpoint arrays, so symmetrization (and
    # the big distinct shuffle it costs) is only paid on the star path.
    if n_edges <= LOCAL_CC_THRESHOLD and (key_bytes or 0) <= LOCAL_CC_BYTE_CAP:
        return _driver_union_find(spark, proper)

    sym = proper.union(
        proper.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()

    # run the iterative rewrites on 64-bit hashed node ids (≈half the
    # shuffle bytes of the string keys and cheaper comparisons), then
    # relabel components to the canonical lexicographic-min member string.
    # Collision odds at 64 bits are ~n²/2⁶⁵ (≈1e-7 at 10M nodes); a
    # trillion-node deployment swaps in a 128-bit key.
    nodes = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("h", F.xxhash64("node"))
        .localCheckpoint()
    )
    hsym = (
        sym.join(nodes.select(F.col("node").alias("src"), F.col("h").alias("hsrc")), "src")
        .join(nodes.select(F.col("node").alias("dst"), F.col("h").alias("hdst")), "dst")
        .select(F.col("hsrc").alias("src"), F.col("hdst").alias("dst"))
    )
    hlabels = _large_small_star(hsym, max_iter=max_iter)
    labeled = hlabels.join(nodes.select("node", F.col("h").alias("node_h")).withColumnRenamed("node", "node_str"),
                           hlabels["node"] == F.col("node_h")).select(
        F.col("node_str").alias("node"), F.col("component").alias("hcomp")
    )
    canonical = labeled.groupBy("hcomp").agg(F.min("node").alias("canonical"))
    return labeled.join(canonical, "hcomp").select(
        "node", F.col("canonical").alias("component")
    )


def _driver_union_find(spark, edges: DataFrame) -> DataFrame:
    """Exact driver-local components of `edges` (exactly the columns src,
    dst); deterministic min-string labels.

    Arrow-NATIVE end to end (round 3): `df.toArrow()` fetch and
    `createDataFrame(pa.Table)` return move the keys as Arrow buffers —
    no Python string objects are ever materialized. Node-id interning is
    pyarrow `dictionary_encode` (C++), the min-label sweep is
    `np.minimum.at` over the code arrays with pointer jumping, and the
    lexicographic-min member per component comes from a `sort_indices`
    RANK of the dictionary (UTF-8 byte order == code-point order) reduced
    with one more `minimum.at` — so the published component id matches the
    distributed path's `min(node)` exactly.

    Measured at 5.3M edges / 3.16M nodes (the 800k-person scaling corpus):
    8.6 s total, of which the union-find itself is ~1.5 s.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = edges.toArrow()
    # large_string: 64-bit offsets, so a LOCAL_CC_BYTE_CAP raised past
    # 2 GiB of keys cannot overflow combine_chunks' int32 offset space
    combined = (
        pa.chunked_array(tbl.column("src").chunks + tbl.column("dst").chunks)
        .cast(pa.large_string())
        .combine_chunks()
    )
    enc = combined.dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64)
    dictionary = enc.dictionary
    n_edges = tbl.num_rows
    e_src = codes[:n_edges]
    e_dst = codes[n_edges:]
    n = len(dictionary)
    # min-label propagation with pointer jumping; the label vector is
    # monotonically non-increasing, so the loop provably terminates
    parent = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(parent[e_src], parent[e_dst])
        before = parent
        parent = parent.copy()
        np.minimum.at(parent, e_src, m)
        np.minimum.at(parent, e_dst, m)
        for _ in range(3):  # pointer jumping halves tree height per pass
            parent = parent[parent]
        if np.array_equal(before, parent):
            break
    sort_idx = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
    rank = np.empty(n, dtype=np.int64)
    rank[sort_idx] = np.arange(n)
    min_rank = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(min_rank, parent, rank)  # per-root lexicographic min
    comp_code = sort_idx[min_rank[parent]]
    out = pa.table(
        {"node": dictionary, "component": pc.take(dictionary, pa.array(comp_code))}
    )
    return spark.createDataFrame(out)


def _large_small_star(sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star over the edge set."""
    spark = sym.sparkSession
    # Catalyst's union constraint rewriting can fail with
    # "key not found: src#N" on the self-referential union+checkpoint shape
    # of this loop (seen on Spark 4.1); constraints add nothing here.
    old_cp = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        return _large_small_star_loop(sym, max_iter)
    finally:
        spark.conf.set("spark.sql.constraintPropagation.enabled", old_cp)


def _large_small_star_loop(sym: DataFrame, max_iter: int) -> DataFrame:
    edges = sym  # symmetric to start; rounds keep a directed (big→small) set
    prev_checksum = None
    converged = False
    for _ in range(max_iter):
        # large-star: for every u, attach its larger neighbors to
        # m = min(N(u) ∪ {u})
        both = edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = both.groupBy(F.col("src").alias("node")).agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            both.filter(F.col("dst") > F.col("src"))
            .join(mins, both["src"] == mins["node"])
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: orient big→small, attach all small neighbors (and u)
        # to the minimum
        directed = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        smins = directed.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("m"))
        small_nbrs = (
            directed.join(smins, directed["src"] == smins["node"])
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        small_self = smins.select(F.col("node").alias("src"), F.col("m").alias("dst"))
        edges = (
            small_nbrs.union(small_self)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        checksum = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: long would overflow under ANSI arithmetic
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        key = (checksum["n"], checksum["h"])
        if key == prev_checksum:
            converged = True
            break
        prev_checksum = key

    if not converged:
        # returning here would hand out labels pointing at non-root
        # intermediates (wrong components) with no signal — fail loudly
        raise RuntimeError(
            f"connected components did not converge within max_iter={max_iter} "
            "star rounds; raise max_iter (rounds needed grow ~log(diameter))"
        )

    # converged: every edge points node → component root
    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return edges.select(F.col("src").alias("node"), F.col("dst").alias("component")).union(
        roots
    ).distinct()


def assign_components(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Map each subj to its component id; singletons keep subj as component.

    Round 6: the label table is two narrow string columns with one row per
    clustered node — orders of magnitude smaller than the triples
    table, whose SMJ shuffle was the bulk of the assign phase (140 MB of
    shuffle at the sf0.1 bench vs a ~60 MB broadcast). The same byte gate
    as linking.link() (`broadcast_hint`) decides the hint from the size of
    `labels`: at or under the gate the side is broadcast, above it the join
    falls back to AQE choice (the 100 TB path, where labels outgrow
    executor memory). The driver-CC path returns a local Arrow table whose
    optimizer estimate is exact, so the decision runs no Spark job (it ran
    a `labels.count()` before). The star path's labels, derived from
    checkpointed edges, have no usable estimate and are still counted once.
    """
    lab = broadcast_hint(labels)(labels.selectExpr("node AS subj", "component"))
    return triples.join(lab, "subj", "left").withColumn(
        "component", F.expr("coalesce(component, subj)")
    )
