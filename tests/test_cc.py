"""Connected-components: both physical strategies, identical semantics."""

from auth2wd_spark.operators import cc


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src STRING, dst STRING")


def _collect(labels):
    return {r["node"]: r["component"] for r in labels.collect()}


def test_chain_and_star(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"),          # chain → comp a
        ("x", "y"), ("x", "z"), ("x", "w"),          # star → comp w (min)
        ("s", "s"),                                   # self loop → singleton-ish
    ]
    labels = cc.connected_components(_edges(spark, pairs))
    got = _collect(labels)
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["x"] == got["y"] == got["z"] == got["w"] == "w"
    assert "s" not in got  # pure self-loop carries no connectivity


def test_star_path_matches_local(spark):
    """The driver (Arrow) path and the large/small-star path publish the
    same labels. The second graph has shared prefixes, mixed key lengths
    and non-ASCII keys, so the star path's min(node) independently checks
    the driver path's lexicographic-min component ids in UTF-8 byte order."""
    import random

    rng = random.Random(7)
    random_pairs = [(f"n{rng.randrange(120)}", f"n{rng.randrange(120)}") for _ in range(200)]
    prefixed_pairs = (
        [(f"rec{i}", f"P214:{i % 7}") for i in range(50)]
        + [("P214:0", "P227:x"), ("zz-last", "P227:x"), ("a", "rec3")]
        + [("P1207:é", "zz-last"), ("Ω", "é"), ("é", "z"), ("Ａ", "😀")]
    )
    for pairs in (random_pairs, prefixed_pairs):
        edges = _edges(spark, pairs)
        local = _collect(cc.connected_components(edges))
        old = cc.LOCAL_CC_THRESHOLD
        try:
            cc.LOCAL_CC_THRESHOLD = 1  # force the large/small-star path
            dist = _collect(cc.connected_components(edges))
        finally:
            cc.LOCAL_CC_THRESHOLD = old
        assert local == dist
    # the component of the big cluster is its minimum member
    assert local["zz-last"] == min(local) == "P1207:é"
    assert local["Ω"] == local["é"] == "z"
    # byte order, not UTF-16 order: U+FF21 sorts before the surrogate pair
    assert local["😀"] == "Ａ"


def test_hot_node(spark):
    """A celebrity hub node: 500 spokes → one component, min id wins."""
    pairs = [("hub", f"spoke{i:04d}") for i in range(500)]
    labels = cc.connected_components(_edges(spark, pairs))
    got = _collect(labels)
    assert len(set(got.values())) == 1
    assert set(got.values()) == {"hub"}  # "hub" < "spoke..."
