from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.operators.linking import (
    build_canonical_map,
    candidate_pairs,
    connected_components,
    entity_nodes,
)
from docs2kg_spark.operators.mentions import extract_mentions
from docs2kg_spark.operators.segments import segment_transcripts


def test_canonical_parity_with_oracle(spark, transcripts_df, oracle_result):
    segs = segment_transcripts(transcripts_df)
    m = extract_mentions(segs, spark)
    cmap, _ = build_canonical_map(m, spark)
    got = {(r.node_id, r.canonical_id) for r in cmap.collect()}
    assert got == set(oracle_result["canonical"].items())


def _cc(spark, nodes, edges, max_rounds=20, driver_max_edges=200_000):
    cfg = PipelineConfig(cc_max_rounds=max_rounds, cc_driver_max_edges=driver_max_edges)
    n = spark.createDataFrame([(x,) for x in nodes], "node_id string")
    e = spark.createDataFrame(edges or [("_none_", "_none2_")], "a string, b string")
    if not edges:
        e = e.limit(0)
    out = connected_components(n, e, cfg)
    return {r.node_id: r.canonical_id for r in out.collect()}


def test_cc_chain(spark):
    # chain a-b-c-d collapses to min — on both dispatch paths
    # (driver_max_edges=0 forces the distributed star loop)
    for dme in (200_000, 0):
        got = _cc(
            spark, ["a", "b", "c", "d"], [("a", "b"), ("b", "c"), ("c", "d")],
            driver_max_edges=dme,
        )
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def _uf_reference(nodes, edges):
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {x: find(x) for x in nodes}


def test_cc_star_random_graph_parity(spark):
    """large-star/small-star == plain union-find on a seeded random
    graph with chains, cliques, and singletons — the distributed path
    forced (driver_max_edges=0)."""
    import random

    rng = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = []
    # long chain (exercises multi-round convergence)
    for i in range(0, 40 - 1):
        edges.append((f"n{i:03d}", f"n{i + 1:03d}"))
    # a clique
    for i in range(50, 58):
        for j in range(i + 1, 58):
            edges.append((f"n{i:03d}", f"n{j:03d}"))
    # random sparse pairs among n060..n099 (n100+ stay singletons)
    for _ in range(25):
        a, b = rng.sample(range(60, 100), 2)
        edges.append((f"n{a:03d}", f"n{b:03d}"))
    rng.shuffle(edges)
    want = _uf_reference(nodes, edges)
    got_star = _cc(spark, nodes, edges, driver_max_edges=0)
    assert got_star == want


def test_cc_star(spark):
    got = _cc(spark, ["m", "x", "y", "z"], [("m", "x"), ("m", "y"), ("m", "z")])
    assert set(got.values()) == {"m"}


def test_cc_unconverged_warns(spark):
    """Hitting cc_max_rounds without a fixpoint must be loud, not silent."""
    import pytest as _pytest

    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)]
    nodes = [f"c{i:02d}" for i in range(31)]
    with _pytest.warns(UserWarning, match="cc_max_rounds"):
        _cc(spark, nodes, chain, driver_max_edges=0, max_rounds=1)


def test_cc_two_components_and_singleton(spark):
    got = _cc(spark, ["a", "b", "c", "d", "e"], [("a", "b"), ("c", "d")], driver_max_edges=0)
    assert got["a"] == got["b"] == "a"
    assert got["c"] == got["d"] == "c"
    assert got["e"] == "e"


def test_cc_edge_permutation_invariance(spark):
    e1 = [("a", "b"), ("b", "c"), ("c", "d")]
    e2 = [("c", "d"), ("a", "b"), ("b", "c")]
    assert _cc(spark, list("abcd"), e1) == _cc(spark, list("abcd"), e2)


def test_driver_fast_path_parity(spark, transcripts_df):
    """The small-vocab driver fast path must be bit-identical to the
    distributed LSH+verify+CC chain: same canonical_map rows, same
    block stats (linking_driver_max_nodes=0 forces distributed)."""
    segs = segment_transcripts(transcripts_df)
    m = extract_mentions(segs, spark)
    fast_map, fast_stats = build_canonical_map(m, spark, PipelineConfig())
    dist_map, dist_stats = build_canonical_map(
        m, spark, PipelineConfig(linking_driver_max_nodes=0)
    )
    fast = {tuple(r) for r in fast_map.collect()}
    dist = {tuple(r) for r in dist_map.collect()}
    assert fast == dist and len(fast) > 0
    assert fast_stats.collect()[0].asDict() == dist_stats.collect()[0].asDict()


def test_driver_fast_path_parity_near_dups(spark):
    """Parity on a crafted vocabulary with real near-duplicates, a capped
    block, and multi-node chains."""
    surfaces = (
        [("Acme Corporation", "Organization"), ("Acme Corporatio", "Organization"),
         ("Acme Corp oration", "Organization"), ("acme corporation", "Organization"),
         ("Globex Inc", "Organization"), ("Globex Incorporated", "Organization"),
         ("Paris", "Location"), ("Pariss", "Location"),
         ("unrelated thing", "Product")]
        + [(f"aaaaaa{i:03d}", "Organization") for i in range(40)]
    )
    rows = [(t, lbl, "c") for t, lbl in surfaces]
    m = spark.createDataFrame(rows, "text string, label string, conv_id string")
    cfg_fast = PipelineConfig(max_block_size=10, jaccard_threshold=0.3)
    cfg_dist = PipelineConfig(
        max_block_size=10, jaccard_threshold=0.3, linking_driver_max_nodes=0
    )
    fast_map, fast_stats = build_canonical_map(m, spark, cfg_fast)
    dist_map, dist_stats = build_canonical_map(m, spark, cfg_dist)
    fast = {tuple(r) for r in fast_map.collect()}
    dist = {tuple(r) for r in dist_map.collect()}
    assert fast == dist
    # near-dups actually linked (not a vacuous pass): some node maps to a
    # canonical id other than itself
    assert any(r[0] != r[3] for r in fast)
    assert fast_stats.collect()[0].asDict() == dist_stats.collect()[0].asDict()
    assert fast_stats.collect()[0].n_capped_blocks > 0


def test_driver_fast_path_empty(spark):
    m = spark.createDataFrame([], "text string, label string, conv_id string")
    cmap, stats = build_canonical_map(m, spark, PipelineConfig())
    assert cmap.count() == 0
    s = stats.collect()[0]
    assert s.n_blocks == 0


def test_block_cap_is_counted_not_silent(spark):
    """degenerate blocks (identical texts → identical signatures) get
    capped and the stats report it."""
    rows = [(f"same text {'' if i < 500 else ''}", "Organization") for i in range(300)]
    # all-identical surfaces collapse to ONE node after distinct — craft
    # distinct surfaces sharing all shingles instead
    rows = [(f"aaaaaa{i:03d}", "Organization") for i in range(300)]
    m = spark.createDataFrame(rows, "text string, label string")
    cfg = PipelineConfig(max_block_size=10, jaccard_threshold=0.3)
    nodes = entity_nodes(m.withColumn("conv_id", F.lit("c")))
    pairs, stats = candidate_pairs(nodes, cfg)
    s = stats.collect()[0]
    assert s.n_capped_blocks > 0
    # capped blocks contribute no pairs (drop is explicit)
    assert pairs.count() < 300 * 299 / 2
