"""Graph-query operators (operators/graphq.py) vs hand-computed /
NumPy-reference results on crafted graphs."""

import pytest
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.operators.graphq import (
    degree_histogram,
    degrees,
    k_hop,
    pagerank,
    triangle_counts,
    undirect,
)


def _edges(spark, pairs):
    return spark.createDataFrame([(a, b) for a, b in pairs], "src string, dst string")


def test_degrees(spark):
    # a->b, a->c, b->c, d isolated-as-source-only via d->a
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")])
    got = {r["node"]: (r["out_degree"], r["in_degree"], r["degree"]) for r in degrees(e).collect()}
    assert got == {
        "a": (2, 1, 3),
        "b": (1, 1, 2),
        "c": (0, 2, 2),
        "d": (1, 0, 1),
    }
    hist = {r["degree"]: r["n_nodes"] for r in degree_histogram(e).collect()}
    assert hist == {3: 1, 2: 2, 1: 1}


def test_undirect_dedups_and_symmetrizes(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")])
    got = {(r["src"], r["dst"]) for r in undirect(e).collect()}
    assert got == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}


# both k_hop routes: the default bound keeps these small graphs on the
# driver, a bound of 0 forces the distributed loop
_ROUTES = (None, PipelineConfig(cc_driver_max_edges=0))


def test_k_hop_min_hops_and_early_exit(spark):
    # chain a->b->c->d plus shortcut a->c: c is 1 hop (min), d is 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    seeds = spark.createDataFrame([("a",)], "node string")
    seeds2 = spark.createDataFrame([("a",), ("d",)], "node string")
    for cfg in _ROUTES:
        got = {r["node"]: r["hops"] for r in k_hop(e, seeds, k=10, cfg=cfg).collect()}
        assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
        # bounded at k=1
        got1 = {r["node"]: r["hops"] for r in k_hop(e, seeds, k=1, cfg=cfg).collect()}
        assert got1 == {"a": 0, "b": 1, "c": 1}
        # two seeds, min across seeds
        got2 = {r["node"]: r["hops"] for r in k_hop(e, seeds2, k=3, cfg=cfg).collect()}
        assert got2 == {"a": 0, "d": 0, "b": 1, "c": 1}


def test_pagerank_matches_numpy_reference(spark):
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("b", "d")]
    e = _edges(spark, pairs)
    got = {r["node"]: r["pr"] for r in pagerank(e, iters=7, damping=0.85).collect()}

    # independent reference: same GraphX recurrence in plain Python
    nodes = sorted({x for p in pairs for x in p})
    out = {}
    for s, _ in pairs:
        out[s] = out.get(s, 0) + 1
    pr = {n: 1.0 for n in nodes}
    for _ in range(7):
        contrib = {n: 0.0 for n in nodes}
        for s, d in pairs:
            contrib[d] += pr[s] / out[s]
        pr = {n: 0.15 + 0.85 * contrib[n] for n in nodes}
    for n in nodes:
        assert got[n] == pytest.approx(pr[n], abs=1e-9)


def test_pagerank_dangling_and_source_nodes(spark):
    # b has no out-edges (dangling), a receives nothing
    e = _edges(spark, [("a", "b")])
    got = {r["node"]: r["pr"] for r in pagerank(e, iters=3, damping=0.85).collect()}
    assert got["a"] == pytest.approx(0.15)
    # pr(b) = 0.15 + 0.85*pr(a); pr(a) settles to 0.15 after iter 1:
    # i1: b = 0.15+0.85*1 = 1.0; i2: b = 0.15+0.85*0.15 = 0.2775; i3: same
    assert got["b"] == pytest.approx(0.15 + 0.85 * 0.15, abs=1e-12)


def test_triangle_counts(spark):
    # K4 on {a,b,c,d}: 4 triangles, each node in 3; plus noise:
    # a self-loop, a parallel edge, a reversed duplicate, and a
    # pendant edge (e) in no triangle
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    noise = [("a", "a"), ("b", "a"), ("a", "b"), ("d", "e")]
    got = {r["node"]: r["triangles"] for r in triangle_counts(_edges(spark, k4 + noise)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    total = sum(got.values())
    assert total == 3 * 4  # 4 triangles x 3 corners


def test_triangle_free_graph(spark):
    # bipartite graphs are triangle-free
    e = _edges(spark, [("s1", "p1"), ("s1", "p2"), ("s2", "p1"), ("s2", "p2")])
    assert triangle_counts(e).count() == 0


def test_k_hop_undirected_bipartite(spark):
    # undirected closure lets BFS bounce back: s1 -> p1 -> s2
    e = undirect(_edges(spark, [("s1", "p1"), ("s2", "p1")]))
    seeds = spark.createDataFrame([("s1",)], "node string")
    for cfg in _ROUTES:
        got = {r["node"]: r["hops"] for r in k_hop(e, seeds, k=2, cfg=cfg).collect()}
        assert got == {"s1": 0, "p1": 1, "s2": 2}


# ---------------------------------------------------------------------------
# weakly-connected components + local clustering coefficient
# ---------------------------------------------------------------------------


def test_weakly_connected_two_components_min_label(spark):
    from docs2kg_spark.operators.graphq import weakly_connected

    edges = spark.createDataFrame(
        # component {a,b,c} (direction ignored) + component {x,y}
        [("b", "a"), ("b", "c"), ("x", "y")],
        "src string, dst string",
    )
    got = {r.node: r.component for r in weakly_connected(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_weakly_connected_driver_vs_distributed_parity(spark):
    from docs2kg_spark.config import PipelineConfig
    from docs2kg_spark.operators.graphq import weakly_connected

    # chain + triangle + isolated pair, shuffled directions
    rows = [("n3", "n1"), ("n1", "n2"), ("n5", "n4"), ("n4", "n6"), ("n6", "n5"),
            ("p1", "p2")]
    edges = spark.createDataFrame(rows, "src string, dst string").repartition(5)
    a = sorted(map(tuple, weakly_connected(edges).collect()))
    b = sorted(
        map(
            tuple,
            weakly_connected(
                edges, cfg=PipelineConfig(cc_driver_max_edges=0)
            ).collect(),
        )
    )
    assert a == b
    assert ("n4", "n4") in a and ("n6", "n4") in a


def test_clustering_coefficient_triangle_plus_pendant(spark):
    from docs2kg_spark.operators.graphq import clustering_coefficient

    edges = spark.createDataFrame(
        # triangle a-b-c plus pendant d hanging off c; parallel edge and
        # self-loop must be ignored
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("b", "a"), ("d", "d")],
        "src string, dst string",
    )
    got = {r.node: (r.degree, r.triangles, r.lcc) for r in
           clustering_coefficient(edges).collect()}
    assert got == {
        "a": (2, 1, 1.0),
        "b": (2, 1, 1.0),
        "c": (3, 1, round(2 * 1 / (3 * 2), 6)),
        "d": (1, 0, 0.0),
    }


def test_assortativity_star_is_minus_one(spark):
    from docs2kg_spark.operators.graphq import degree_assortativity

    edges = spark.createDataFrame(
        [("c", "l1"), ("c", "l2"), ("c", "l3")], "src string, dst string"
    )
    r = degree_assortativity(edges).collect()[0]
    assert (r.m_edges, r.assortativity) == (3, -1.0)


def test_assortativity_hand_computed_mixed_graph(spark):
    from docs2kg_spark.operators.graphq import degree_assortativity

    # triangle a-b-c with pendant d on c: r = -20/28 = -0.714286 (6dp)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.m_edges == 4
    assert r.assortativity == round(-20 / 28, 6)


def test_kcore_clique_survives_chain_peels(spark):
    from docs2kg_spark.operators.graphq import k_core

    # K4 clique + a chain hanging off it
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("d", "x"), ("x", "y"), ("y", "z")]
    edges = spark.createDataFrame(clique + chain, "src string, dst string")
    core3 = {r.node: r.core_degree for r in k_core(edges, k=3).collect()}
    assert core3 == {"a": 3, "b": 3, "c": 3, "d": 3}  # chain fully peeled
    # k=2: the chain still peels (cascade from the degree-1 tail)
    core2 = set(r.node for r in k_core(edges, k=2).collect())
    assert core2 == {"a", "b", "c", "d"}


def test_kcore_cascading_peel_empties_chain(spark):
    from docs2kg_spark.operators.graphq import k_core

    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(chain, "src string, dst string")
    assert k_core(edges, k=2).count() == 0  # ends peel, cascade consumes all


def test_kcore_cycle_keeps_cycle_drops_pendant(spark):
    from docs2kg_spark.operators.graphq import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "p")], "src string, dst string"
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_hop_broadcast_and_shuffle_paths_agree(spark):
    """broadcast_below=0 forces the shuffle-join fallback; the default
    broadcasts small frontiers — both must give the identical min-hop
    set (the knob changes the physical plan only).  cc_driver_max_edges=0
    keeps both calls on the distributed route."""
    distributed = PipelineConfig(cc_driver_max_edges=0)
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "e"), ("x", "y")],
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    fast = {(r["node"], r["hops"]) for r in k_hop(e, seeds, k=4, cfg=distributed).collect()}
    slow = {
        (r["node"], r["hops"])
        for r in k_hop(e, seeds, k=4, broadcast_below=0, cfg=distributed).collect()
    }
    assert fast == slow
    # a=0, b=1, c=2, e=2 (via b->e), d=3; x/y unreachable
    assert fast == {("a", 0), ("b", 1), ("c", 2), ("e", 2), ("d", 3)}


# ---------------------------------------------------------------------------
# k_hop / personalized_pagerank: driver route vs distributed route
# ---------------------------------------------------------------------------


def _parity_graph():
    """Seeded random digraph with parallel edges, self-loops and
    dangling nodes (in-edges only)."""
    import random

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(30)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    pairs += pairs[:6]  # parallel edges
    pairs += [("n03", "n03"), ("n17", "n17"), ("n17", "n17")]  # self-loops
    pairs += [(rng.choice(nodes), f"sink{i}") for i in range(4)]  # dangling
    return pairs


# duplicate seed, and one seed no edge touches
_PARITY_SEEDS = ["n00", "n00", "n05", "absent"]


def _ppr_reference(pairs, seeds, iters, damping):
    nodes = {x for p in pairs for x in p}
    base = {n: 1.0 if n in seeds else 0.0 for n in nodes}
    out = {}
    for s, _ in pairs:
        out[s] = out.get(s, 0) + 1
    pr = dict(base)
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for s, d in pairs:
            contrib[d] += pr[s] / out[s]
        pr = {n: (1 - damping) * base[n] + damping * contrib[n] for n in nodes}
    return pr


def test_k_hop_driver_and_distributed_routes_agree(spark):
    pairs = _parity_graph()
    e = _edges(spark, pairs).repartition(3)
    seeds = spark.createDataFrame([(s,) for s in _PARITY_SEEDS], "node string")
    # k far beyond the graph's depth: the BFS has to stop on an empty frontier
    driver = k_hop(e, seeds, k=40, cfg=PipelineConfig())
    dist = k_hop(e, seeds, k=40, cfg=PipelineConfig(cc_driver_max_edges=0))
    assert driver.schema == dist.schema
    got = [(r["node"], r["hops"]) for r in driver.collect()]
    assert len(got) == len(set(got))
    assert set(got) == {(r["node"], r["hops"]) for r in dist.collect()}
    hops = dict(got)
    assert hops["n00"] == hops["n05"] == hops["absent"] == 0
    assert max(hops.values()) >= 3


def test_ppr_driver_and_distributed_routes_agree(spark):
    from docs2kg_spark.operators.graphq import personalized_pagerank

    pairs = _parity_graph()
    e = _edges(spark, pairs).repartition(3)
    seeds = spark.createDataFrame([(s,) for s in _PARITY_SEEDS], "node string")
    driver = personalized_pagerank(e, seeds, iters=6, cfg=PipelineConfig())
    dist = personalized_pagerank(e, seeds, iters=6, cfg=PipelineConfig(cc_driver_max_edges=0))
    assert driver.schema == dist.schema
    a = {r["node"]: r["pr"] for r in driver.collect()}
    b = {r["node"]: r["pr"] for r in dist.collect()}
    ref = _ppr_reference(pairs, set(_PARITY_SEEDS), 6, 0.85)
    assert set(a) == set(b) == set(ref)
    assert "absent" not in a
    for n in ref:
        assert a[n] == pytest.approx(b[n], abs=1e-12)
        assert a[n] == pytest.approx(ref[n], abs=1e-12)


def test_graph_read_route_boundary_is_cc_driver_max_edges(spark, monkeypatch):
    """At cc_driver_max_edges == n_edges the driver kernels run; one
    edge over the bound, the distributed loops do."""
    from docs2kg_spark.operators import graphq

    calls = []
    for name in ("_bfs_hops", "_ppr_ranks"):
        kernel = getattr(graphq, name)
        monkeypatch.setattr(
            graphq, name, lambda *a, _k=kernel, _n=name: calls.append(_n) or _k(*a)
        )
    pairs = _parity_graph()
    n = len(pairs)
    e = _edges(spark, pairs)
    seeds = spark.createDataFrame([("n00",)], "node string")
    results = {}
    for cap in (n, n - 1):
        cfg = PipelineConfig(cc_driver_max_edges=cap)
        calls.clear()
        hops = {tuple(r) for r in graphq.k_hop(e, seeds, k=3, cfg=cfg).collect()}
        pr = {r["node"]: r["pr"] for r in graphq.personalized_pagerank(e, seeds, cfg=cfg).collect()}
        results[cap] = (hops, pr, list(calls))
    assert results[n][2] == ["_bfs_hops", "_ppr_ranks"]
    assert results[n - 1][2] == []
    assert results[n][0] == results[n - 1][0]
    assert results[n][1] == pytest.approx(results[n - 1][1], abs=1e-12)


# ---------------------------------------------------------------------------
# prepared graphs of committed kg_edges snapshots
# ---------------------------------------------------------------------------


def _store_edges(spark, store, pairs):
    store.write(_edges(spark, pairs), "kg_edges")
    return store.read("kg_edges")


def _hops(spark, e, seed="a", k=3, cfg=None):
    seeds = spark.createDataFrame([(seed,)], "node string")
    return {r["node"]: r["hops"] for r in k_hop(e, seeds, k=k, cfg=cfg).collect()}


def test_graph_read_after_new_commit_sees_new_edges(spark, tmp_path):
    from docs2kg_spark.io.sinks import TableStore

    store = TableStore(spark, str(tmp_path))
    assert _hops(spark, _store_edges(spark, store, [("a", "b"), ("b", "c")])) == {"a": 0, "b": 1, "c": 2}
    e = _store_edges(spark, store, [("a", "x"), ("x", "y")])
    assert _hops(spark, e) == {"a": 0, "x": 1, "y": 2}


def test_graph_read_after_drop_and_rewrite_of_same_snapshot_dir(spark, tmp_path):
    """The plan of a read is the same across a drop + rewrite into
    snap-1; the part files are not."""
    from docs2kg_spark.io.sinks import TableStore

    store = TableStore(spark, str(tmp_path))
    first = _store_edges(spark, store, [("a", "b"), ("b", "c")])
    assert _hops(spark, first) == {"a": 0, "b": 1, "c": 2}
    store.drop("kg_edges")
    second = _store_edges(spark, store, [("a", "c"), ("c", "d")])
    assert second.inputFiles()[0].split("/")[-2] == "snap-1"
    assert second.sameSemantics(first)
    assert _hops(spark, second) == {"a": 0, "c": 1, "d": 2}


def test_filtered_frame_is_not_served_the_unfiltered_graph(spark, tmp_path):
    from docs2kg_spark.io.sinks import TableStore

    e = _store_edges(spark, TableStore(spark, str(tmp_path)), [("a", "b"), ("b", "c"), ("a", "z")])
    assert _hops(spark, e) == {"a": 0, "b": 1, "c": 2, "z": 1}
    assert _hops(spark, e.filter(F.col("dst") != "z")) == {"a": 0, "b": 1, "c": 2}


def test_cached_graph_over_a_lowered_bound_takes_the_distributed_loop(spark, tmp_path, monkeypatch):
    from docs2kg_spark.io.sinks import TableStore
    from docs2kg_spark.operators import graphq

    pairs = _parity_graph()
    e = _store_edges(spark, TableStore(spark, str(tmp_path)), pairs)
    driver = _hops(spark, e, seed="n00", k=40)  # prepares and caches the graph
    calls = []
    kernel = graphq._bfs_hops
    monkeypatch.setattr(graphq, "_bfs_hops", lambda *a: calls.append(1) or kernel(*a))
    dist = _hops(spark, e, seed="n00", k=40, cfg=PipelineConfig(cc_driver_max_edges=len(pairs) - 1))
    assert calls == []
    assert dist == driver


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs that ``fn`` submits, from the status tracker."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.5)  # the tracker learns of jobs from the listener bus
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_k_hop_over_one_snapshot_runs_only_the_seed_collect(spark, tmp_path):
    from docs2kg_spark.io.sinks import TableStore

    e = _store_edges(spark, TableStore(spark, str(tmp_path)), [("a", "b"), ("b", "c")])
    seeds = spark.createDataFrame([("a",)], "node string")
    assert _jobs_run_by(spark, lambda: k_hop(e, seeds, k=2).collect()) > 1
    assert _jobs_run_by(spark, lambda: k_hop(e, seeds, k=2).collect()) == 1


def test_degrees_driver_and_distributed_routes_agree(spark, tmp_path):
    from docs2kg_spark.io.sinks import TableStore
    from docs2kg_spark.operators import graphq

    pairs = _parity_graph()
    store = TableStore(spark, str(tmp_path))
    store.write(spark.createDataFrame(pairs, "a string, b string"), "edges")
    e = store.read("edges")
    graphq._driver_graph(e.select(F.col("a").alias("src"), F.col("b").alias("dst")), None)  # as k_hop would
    driver = degrees(e, "a", "b")
    dist = degrees(e, "a", "b", cfg=PipelineConfig(cc_driver_max_edges=0))
    assert driver.schema == dist.schema
    assert _jobs_run_by(spark, driver.collect) == 0  # served from the prepared graph
    got = [tuple(r) for r in driver.collect()]
    assert len(got) == len({r[0] for r in got})
    assert set(got) == {tuple(r) for r in dist.collect()}


def test_degrees_never_prepares_a_graph(spark, tmp_path, monkeypatch):
    """Over a snapshot no read has prepared, degrees starts no job before
    its own aggregate is collected, and caches nothing."""
    from docs2kg_spark.io.sinks import TableStore
    from docs2kg_spark.operators import graphq

    monkeypatch.setattr(graphq, "_prepared", None)
    e = _store_edges(spark, TableStore(spark, str(tmp_path)), [("a", "b"), ("b", "c"), ("a", "c")])
    out = []
    assert _jobs_run_by(spark, lambda: out.append(degrees(e))) == 0
    assert graphq._prepared is None
    assert {r["node"]: r["degree"] for r in out[0].collect()} == {"a": 2, "b": 2, "c": 2}
