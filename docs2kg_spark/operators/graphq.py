"""Graph-query operators over the materialized KG edge tables.

The reference's users query the loaded property graph in Neo4j (Cypher
over the tables loaded by utils/neo4j_loader.py:232-433 — e.g. the
readback at neo4j_loader.py:438-443 and the export at :446-491).  This
module supplies the Spark-native equivalents of the common graph reads
so a Docs2KG user can stay on the engine's own tables: degree stats,
bounded-hop neighborhood expansion (Cypher's variable-length patterns),
PageRank-style importance, and triangle participation.

Scale design (DataFrame-only, no Python in the loop, except the
driver routes of degrees, k_hop and personalized_pagerank):
- degrees (distributed): one explode of both endpoints and one
  partial+final hash aggregate on node id.  No skew beyond what the
  graph itself has; AQE splits hot nodes.
- k_hop, personalized_pagerank and degrees: an edge table of at most
  PipelineConfig.cc_driver_max_edges rows (the bound that also picks
  linking's driver union-find) is read on the driver by vectorized
  Arrow / NumPy kernels.  k_hop and personalized_pagerank count it and
  collect it once through Arrow.  A frame over committed files is
  prepared once per snapshot (edge arrays, dictionary-coded ids,
  out-degrees) and cached, keyed by its files' URIs, sizes and mtimes
  plus its plan, so a commit is never served stale; degrees reads only
  that cached graph and never counts or collects for it.  Larger tables
  take the DataFrame loops below, with the same answers
  (parity-tested).  On 4 vCPUs, Zipf-target parquet edge tables of
  50k-800k edges, the driver route was faster at every size (k_hop
  k=2: 0.52-0.65 s vs 0.65-1.21 s; 3-iteration PPR: 0.72-1.56 s vs
  2.35-6.44 s), so the bound sits below the crossover; it caps the
  driver's memory, as the one cached graph holds both id columns plus
  two int64 codes per edge.
- k_hop (distributed): frontier BFS — per hop one equi-join
  frontier⋈edges, one distinct, one left-anti against visited; the
  frontier is localCheckpoint'ed per hop so the plan stays flat
  (lineage would otherwise double per hop).  A frontier that is small
  relative to the edge table broadcasts automatically under AQE.  Worst
  case per hop is one shuffle over the frontier's out-edges — never the
  whole graph.
- pagerank: the GraphX convention (pr = (1-d) + d·Σ pr(u)/outdeg(u),
  dangling mass not redistributed — deterministic and join-local, no
  per-iteration driver aggregation).  Each iteration is one equi-join
  edges⋈ranks plus one hash aggregate on dst; ranks are
  localCheckpoint'ed per iteration (flat lineage, one materialization
  each — the cluster analog is a checkpoint dir or Iceberg stage table).
- triangle_counts: canonical a<b orientation halves the edge set, the
  (a<b, b<c) wedge join plus one closing equi-join counts each triangle
  exactly once.  The join is bucketable on the shared key; per-node
  counts come from one explode + aggregate.  (The classic
  degree-ordered orientation is a drop-in refinement if a production
  graph has extreme-degree hubs; id-ordering keeps the SQL twin exact.)
"""

from __future__ import annotations

import os
import threading
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.session import driver_frame


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst", cfg: PipelineConfig | None = None
) -> DataFrame:
    """→ (node, out_degree, in_degree, degree).  Counts parallel edges
    as given (pass a distinct'ed edge table for simple-graph counts).

    One pass: each edge explodes into (src,1) and (dst,0) and a single
    partial+final aggregate folds both directions — one scan and ONE
    shuffle, where the textbook out⋈in formulation scans the edge table
    twice, shuffles twice, and full-outer-joins the halves.

    Driver route: when k_hop or personalized_pagerank has already
    prepared ``edges``' snapshot (see _driver_graph) and it has at most
    cfg.cc_driver_max_edges rows, the answer is two bincounts over that
    graph, with the aggregate's schema and no Spark job.  degrees never
    counts or collects a frame to prepare it: over a frame read once,
    that would scan it again before the aggregate it replaces."""
    endpoint = F.explode(
        F.array(
            F.struct(F.col(src).alias("node"), F.lit(1).cast("bigint").alias("o")),
            F.struct(F.col(dst).alias("node"), F.lit(0).cast("bigint").alias("o")),
        )
    )
    out = (
        edges.select(endpoint.alias("e"))
        .select("e.node", "e.o")
        .groupBy("node")
        .agg(
            F.sum("o").alias("out_degree"),
            (F.count("*") - F.sum("o")).alias("in_degree"),
            F.count("*").alias("degree"),
        )
    )
    cap = (cfg or PipelineConfig()).cc_driver_max_edges
    e = _edge_pairs(edges, src, dst)
    g = _cached_graph(e, _snapshot_key(e)) if cap > 0 else None
    if g is None or len(g.src) > cap:
        return out
    indeg = np.bincount(g.di, minlength=len(g.nodes))
    return driver_frame(edges.sparkSession, out.schema, columns=(g.nodes, g.outdeg, indeg, g.outdeg + indeg))


def degree_histogram(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """→ (degree, n_nodes): distribution of total degree."""
    return degrees(edges, src, dst).groupBy("degree").agg(F.count("*").alias("n_nodes"))


def undirect(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetric closure (both directions), distinct — the undirected
    view of a directed edge table."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


class _Graph(NamedTuple):
    """A driver-side edge table: the Arrow ``src``/``dst`` arrays, their
    dictionary coding (``nodes``; ``si``/``di`` index it per edge) and
    the out-degree of each node."""

    src: pa.Array
    dst: pa.Array
    nodes: pa.Array
    si: np.ndarray
    di: np.ndarray
    outdeg: np.ndarray


def _prepare(src: pa.Array, dst: pa.Array) -> _Graph:
    nodes = pc.unique(pa.concat_arrays([src, dst]))
    si = pc.index_in(src, value_set=nodes).to_numpy()
    di = pc.index_in(dst, value_set=nodes).to_numpy()
    return _Graph(src, dst, nodes, si, di, np.bincount(si, minlength=len(nodes)))


def _edge_pairs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))


# The prepared graph of the last committed edge snapshot a driver-route
# read collected: (session, snapshot key, the _edge_pairs frame, graph).
_prepared: tuple | None = None
_prepared_lock = threading.Lock()


def _snapshot_key(e: DataFrame) -> tuple | None:
    """What pins ``e``'s rows to one committed snapshot: each input
    file's URI, size and mtime.  A commit writes new part files (Spark
    names them after the write job), so every commit changes the key,
    even a rewrite into the same snapshot dir, which leaves the plan,
    and so sameSemantics, unchanged.  None (not cacheable) for a frame
    with no input files, a non-deterministic plan, a non-``file:`` URI
    or a file that is gone.  The key covers files only: a plan that also
    reads a source without files (JDBC, say) would be served stale, and
    no reader here builds one."""
    files = e.inputFiles()
    if not files or not e._jdf.queryExecution().analyzed().deterministic():
        return None
    key = []
    for uri in sorted(files):
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        try:
            st = os.stat(unquote(parsed.path))
        except OSError:
            return None
        key.append((uri, st.st_size, st.st_mtime_ns))
    return tuple(key)


def _cached_graph(e: DataFrame, key: tuple | None) -> _Graph | None:
    """The prepared graph of ``e``'s snapshot, if it is the cached one."""
    if key is None:
        return None
    with _prepared_lock:
        entry = _prepared
    if entry is None:
        return None
    session, k, frame, g = entry
    return g if session is e.sparkSession and k == key and e.sameSemantics(frame) else None


def _driver_graph(edges: DataFrame, cfg: PipelineConfig | None) -> _Graph | None:
    """``edges`` (columns src, dst) as a driver-side _Graph when it has
    at most cfg.cc_driver_max_edges rows, else None (also for a bound
    <= 0, without touching the table).

    A frame over committed files (see _snapshot_key) is prepared once
    per snapshot and then served from the module cache with no Spark
    job, while its edge count is within the caller's bound.  Otherwise
    a column-pruned count runs first (under AQE two Spark jobs: one
    partial count per partition, then their sum; on parquet it reads no
    column data); only under the bound does one Arrow collect of src,
    dst follow.  A bounded collect (``limit(cap + 1).toArrow()``) would
    be a single job, but its limit shuffles up to cap + 1 (src, dst)
    rows from every partition into one, all of it discarded on exactly
    the large tables the distributed route exists for.

    The driver routes take node ids as non-null, as kg_edges writes
    them: a null endpoint does not get the distributed joins' null
    semantics."""
    global _prepared
    cap = (cfg or PipelineConfig()).cc_driver_max_edges
    if cap <= 0:
        return None
    e = _edge_pairs(edges, "src", "dst")
    key = _snapshot_key(e)
    g = _cached_graph(e, key)
    if g is not None:
        return g if len(g.src) <= cap else None
    if e.count() > cap:
        return None
    t = e.toArrow()
    g = _prepare(t.column("src").combine_chunks(), t.column("dst").combine_chunks())
    if key is not None:
        with _prepared_lock:
            _prepared = (e.sparkSession, key, e, g)
    return g


def _seed_ids(seeds: DataFrame, id_type: pa.DataType) -> pa.Array:
    """The distinct seed ids, in the edges' id type."""
    return pc.unique(seeds.select("node").toArrow().column("node").combine_chunks().cast(id_type))


def _bfs_hops(src: pa.Array, dst: pa.Array, seeds: pa.Array, k: int) -> tuple:
    """(nodes, hops): min hops from any seed along src → dst, up to k.
    Each hop is one vectorized is_in pass over the edge arrays — the
    frontier⋈edges join and the anti-join against the visited set."""
    layers = [seeds]
    seen = seeds
    for _ in range(k):
        reached = pc.unique(pc.filter(dst, pc.is_in(src, value_set=layers[-1])))
        nxt = pc.filter(reached, pc.invert(pc.is_in(reached, value_set=seen)))
        if len(nxt) == 0:
            break
        layers.append(nxt)
        seen = pa.concat_arrays([seen, nxt])
    hops = np.repeat(np.arange(len(layers), dtype=np.int32), [len(x) for x in layers])
    return pa.concat_arrays(layers), hops


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    broadcast_below: int = 2_000_000,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Minimum-hop BFS from ``seeds`` (a DataFrame with column `node`)
    following `src → dst`, bounded at ``k`` hops.
    → (node, hops) with hops = min #edges from any seed (seeds at 0,
    including seeds that no edge touches).

    The Cypher analog is `MATCH (s)-[*..k]->(n)` with shortest-path
    semantics.  Frontier-based: each hop touches only the frontier's
    out-edges; early-exits when the frontier drains.

    Driver route: an edge table of at most cfg.cc_driver_max_edges rows
    (`cfg=None` takes the PipelineConfig default; 0 forces the
    distributed route) is collected once and walked by a vectorized
    BFS on the driver, whatever k is: 1 job (the seeds) over a prepared
    snapshot, 4 on a cold read (2 for the count, edges, seeds).

    Distributed route (after the count jobs, unless the bound is 0 or a
    cached graph knows the size), ONE job per hop: only the new
    frontier is checkpointed and its size rides that same job as an
    Observation (no separate isEmpty() job).  The anti-join's right
    side is the lazy union of the prior frontier checkpoints (frontiers
    are disjoint by construction), read from the already-materialized
    blocks, never rewritten.  The returned DataFrame is the lazy union
    of all frontiers.

    Frontier counts are KNOWN (the Observation), so while frontier and
    visited stay under ``broadcast_below`` rows the hop join and the
    anti-join take explicit broadcast hints — the edge table is then
    never exchanged (its partitions are probed map-side), which removes
    both wide shuffles from the typical seeded-BFS hop.  A frontier
    that outgrows the bound falls back to the shuffle join — the right
    plan when the frontier is a large fraction of a 100 TB graph."""
    from functools import reduce

    g = _driver_graph(edges, cfg)
    if g is not None:
        nodes, hops = _bfs_hops(g.src, g.dst, _seed_ids(seeds, g.src.type), k)
        schema = StructType(
            [StructField("node", seeds.schema["node"].dataType), StructField("hops", IntegerType(), False)]
        )
        return driver_frame(edges.sparkSession, schema, columns=(nodes, hops))

    first = seeds.select("node").distinct().withColumn("hops", F.lit(0)).localCheckpoint()
    n_seen = first.count()  # blocks already materialized — metadata-cheap
    n_frontier = n_seen
    frontiers = [first]
    frontier = first
    for h in range(1, k + 1):
        obs = Observation(f"k_hop_frontier_{h}")
        seen = reduce(DataFrame.unionByName, [f.select("node") for f in frontiers])
        f_side = F.broadcast(frontier) if n_frontier < broadcast_below else frontier
        s_side = F.broadcast(seen) if n_seen < broadcast_below else seen
        nxt = (
            f_side.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(s_side, "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n_frontier = int(obs.get["n"] or 0)
        if n_frontier == 0:
            break
        n_seen += n_frontier
        frontiers.append(nxt)
        frontier = nxt
    return reduce(DataFrame.unionByName, frontiers)


def pagerank(edges: DataFrame, iters: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank, GraphX convention:
    pr⁰(v) = 1;  prⁱ(v) = (1-d) + d · Σ_{u→v} prⁱ⁻¹(u)/outdeg(u).
    → (node, pr).  Deterministic for a fixed iteration count (no
    convergence test → no per-iteration driver action)."""
    e = edges.select("src", "dst")
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct().localCheckpoint()
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    # pre-divide each edge's share so the loop joins against one table
    shares = e.join(outd, e["src"] == outd["node"]).select("src", "dst", "deg").localCheckpoint()
    ranks = nodes.withColumn("pr", F.lit(1.0))
    for _ in range(iters):
        contrib = (
            shares.join(ranks, shares["src"] == ranks["node"])
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select("node", (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("pr"))
            .localCheckpoint()
        )
    return ranks


def _ppr_ranks(g: _Graph, seeds: pa.Array, iters: int, damping: float) -> np.ndarray:
    """pr per node of ``g.nodes``: the personalized_pagerank recurrence
    over the dictionary-coded edges, vectorized — each iteration is one
    weighted bincount over the edges.  Parallel edges and self-loops
    count, as in the joins."""
    deg = g.outdeg[g.si]  # outdeg(src) per edge
    base = pc.is_in(g.nodes, value_set=seeds).to_numpy(zero_copy_only=False).astype(np.float64)
    pr = base
    for _ in range(iters):
        s = np.bincount(g.di, weights=pr[g.si] / deg, minlength=len(g.nodes))
        pr = (1.0 - damping) * base + damping * s
    return pr


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Fixed-iteration personalized PageRank: teleport mass restarts
    ONLY at the seed set (Jeh & Widom, WWW'03 / the GraphX convention
    restricted to S):  pr⁰(v) = [v∈S];
    prⁱ(v) = (1−d)·[v∈S] + d · Σ_{u→v} prⁱ⁻¹(u)/outdeg(u).
    → (node, pr) over the edge endpoints (a seed no edge touches gets no
    row); dangling mass is dropped.  seeds: one `node` column.

    Driver route: an edge table of at most cfg.cc_driver_max_edges rows
    (`cfg=None` takes the PipelineConfig default; 0 forces the
    distributed route) is collected once and the recurrence runs on the
    driver in NumPy, whatever iters is: 1 job (the seeds) over a
    prepared snapshot, 4 on a cold read (2 for the count, edges, seeds).

    Distributed route (after the count jobs, unless the bound is 0 or a
    cached graph knows the size), the shape of pagerank (the cited
    Cypher-analog read): seed sets are small by definition, so the
    membership join is broadcast; edge shares are pre-divided once and
    localCheckpointed; one equi-join + one sum agg per iteration,
    node-sized frames only."""
    g = _driver_graph(edges, cfg)
    if g is not None:
        pr = _ppr_ranks(g, _seed_ids(seeds, g.src.type), iters, damping)
        schema = StructType(
            [StructField("node", edges.schema["src"].dataType), StructField("pr", DoubleType(), False)]
        )
        return driver_frame(edges.sparkSession, schema, columns=(g.nodes, pr))

    e = edges.select("src", "dst")
    seed_marked = seeds.select(F.col("node"), F.lit(1.0).alias("is_seed")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .join(F.broadcast(seed_marked), on="node", how="left")
        .select("node", F.coalesce("is_seed", F.lit(0.0)).alias("base"))
        .localCheckpoint()
    )
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    shares = e.join(outd, e["src"] == outd["node"]).select("src", "dst", "deg").localCheckpoint()
    ranks = nodes.select("node", F.col("base").alias("pr"))
    for _ in range(iters):
        contrib = (
            shares.join(ranks, shares["src"] == ranks["node"])
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("base")
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def triangle_counts(edges: DataFrame, orient: str = "id") -> DataFrame:
    """Per-node triangle participation over the undirected simple graph
    of ``edges`` (direction and parallel edges ignored, self-loops
    dropped).  → (node, triangles).

    ``orient`` picks the total order that acyclically orients the edges
    (every triangle is then one wedge + one closing edge, counted once):

    - "id" (default): lexicographic node id — the form the exact SQL
      twin replicates.
    - "degree": (degree, id) order — the classic hub-killer for skewed
      graphs: a degree-d hub has out-degree ≤ its number of
      HIGHER-degree neighbors under this order, so the wedge join's
      per-key fanout is bounded by arboricity-ish quantities instead of
      d² (Suri & Vassilvitskii, WWW'11).  Same counts (any total order
      counts each triangle exactly once — parity-tested), one extra
      degree aggregate + join to stamp the order key."""
    if orient not in ("id", "degree"):
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    if orient == "degree":
        deg = degrees(sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
                      src="u", dst="v").select("node", "degree")
        with_deg = (
            sym.join(deg.withColumnRenamed("node", "u").withColumnRenamed("degree", "du"), on="u")
            .join(deg.withColumnRenamed("node", "v").withColumnRenamed("degree", "dv"), on="v")
        )
        lower_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        und = with_deg.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        ).distinct()
    else:
        und = sym.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")).distinct()
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))  # wedge a<b<c
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )


def neighbor_jaccard(
    edges: DataFrame, min_common: int = 1, min_sim: float = 0.0
) -> DataFrame:
    """Node-pair similarity by neighbor-set Jaccard over the undirected
    simple graph of ``edges`` → (a, b, common, jaccard) with a < b.

    This is the structural-similarity read behind entity-resolution
    candidate scoring (two KG entities whose neighborhoods overlap are
    merge candidates even when their surfaces differ — the graph-side
    complement of linking.py's surface MinHash).  Neo4j ships the same
    read as gds.nodeSimilarity; reference provenance: Docs2KG unifies
    entities purely on surface text (kg_construction/semantic_kg.py),
    so this is the engine-native upgrade path.

    Scale shape: candidate pairs come ONLY from the wedge join (pairs
    sharing ≥1 neighbor — never the all-pairs cross), grouped per pair
    with one hash aggregate; degrees join in by node key.  Per-wedge
    fanout is bounded by the hub degree — for hub-heavy graphs cap or
    sample hot neighbor keys upstream (the linking.py block-cap
    pattern); AQE skew-join splits the residue."""
    # distinct symmetric closure, self-loops dropped (a self-loop would
    # inflate its node's degree without ever forming a candidate pair)
    nbr = undirect(edges).filter(F.col("src") != F.col("dst"))
    deg = nbr.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    n1 = nbr.select(F.col("dst").alias("w"), F.col("src").alias("a"))
    n2 = nbr.select(F.col("dst").alias("w"), F.col("src").alias("b"))
    common = (
        n1.join(n2, on="w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    return (
        common.join(da, on="a")
        .join(db, on="b")
        .select(
            "a",
            "b",
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_sim)
    )


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected simple graph of ``edges`` → (node, community).

    Each node starts in its own community (label = own id); every
    iteration each node adopts the label most frequent among its
    neighbours, ties broken by the LEXICOGRAPHICALLY SMALLEST label
    (Raghavan et al. 2007, synchronous variant).  The deliberate
    choices, both for cross-engine exactness:

    - synchronous fixed-iteration (the async variant visits nodes in an
      order no two engines would replicate, and GraphX's LPA is the
      same synchronous form);
    - deterministic tie-break (the paper's random tie-break would make
      the result a coin flip).

    Scale shape per iteration: one equi-join edges⋈labels (the same
    shuffle key every round — co-partitioning is reused) + one hash
    aggregate on (node, label) + one per-node arg-max window over the
    ALREADY-aggregated label counts (at most deg(v) rows per node, not
    the edge stream).  Labels are localCheckpoint'ed per round — flat
    lineage, the cluster analog is a stage table.  No driver-side data
    beyond the checkpoint bookkeeping."""
    und = undirect(edges).filter(F.col("src") != F.col("dst")).localCheckpoint()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("community").asc())
    for _ in range(iters):
        counts = (
            und.join(labels, und["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "community")
            .groupBy("node", "community")
            .agg(F.count("*").alias("c"))
        )
        picked = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "community")
        )
        # every node of an undirected simple graph has ≥1 neighbour, so
        # `picked` covers the node set; the left join + coalesce keeps
        # the invariant explicit (and future-proofs isolated nodes)
        labels = (
            labels.select("node", F.col("community").alias("prev"))
            .join(picked, on="node", how="left")
            .select("node", F.coalesce("community", "prev").alias("community"))
            .localCheckpoint()
        )
    return labels


def weakly_connected(
    edges: DataFrame, src: str = "src", dst: str = "dst", cfg=None
) -> DataFrame:
    """Weakly-connected components over the undirected closure of
    ``edges`` → (node, component), component = MIN node id in the
    component (singletons label themselves).

    The Cypher/GDS analog is `gds.wcc`; the reference's users get this
    from Neo4j over the loaded graph (utils/neo4j_loader.py).  Reuses
    the linking stage's hybrid CC engine (linking.py::
    connected_components): a one-job driver union-find under
    cfg.cc_driver_max_edges, the alternating large-star/small-star
    O(log²n)-round loop above it — both min-id-exact, so the recursive
    label-propagation SQL twin applies regardless of which path ran."""
    from docs2kg_spark.operators.linking import connected_components

    cfg = cfg or PipelineConfig()
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        edges.select(F.col(src).alias("node_id"))
        .union(edges.select(F.col(dst).alias("node_id")))
        .distinct()
    )
    cc = connected_components(nodes, e, cfg)
    return cc.select(
        F.col("node_id").alias("node"), F.col("canonical_id").alias("component")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over the undirected simple
    graph (self-loops and direction dropped):
    lcc(v) = 2·T(v) / (d(v)·(d(v)−1)), 0.0 when d(v) < 2.
    → (node, degree, triangles, lcc), lcc rounded to 6dp.

    How tightly is each node's neighborhood interlinked — the per-node
    transitivity read (gds.localClusteringCoefficient analog); on the
    entity graph it separates hub entities that merely co-occur widely
    from entities whose neighbors also relate to each other.

    Scale shape: degree is ONE explode+agg pass over the deduped a<b
    edge table; triangles reuse triangle_counts (oriented wedge joins —
    pass orient="degree" upstream for hub-heavy graphs); the final
    combine is a broadcast-sized left join keyed by node.  The ratio is
    exact in IEEE doubles both engines (small-int operands), so ROUND
    to 6dp is engine-identical."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    und = sym.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")).distinct()
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    tri = triangle_counts(edges)
    d = F.col("degree").cast("double")
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce(F.col("triangles"), F.lit(0)) / (d * (d - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("lcc"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the undirected
    simple graph → ONE row (m_edges, assortativity): the Pearson
    correlation of endpoint degrees over the directed-both-ways edge
    list.  Positive = hubs link hubs (social-ish), negative = hubs link
    leaves (hub-and-spoke) — the one-number summary of whether the
    entity graph's join keys will be hub-skewed.

    Engine-exact: every moment (Σd_u, Σd_u², Σd_u·d_v) is a BIGINT sum
    of small integers — exact and associative — and doubles appear only
    in the final closed-form ratio (sqrt is correctly rounded in IEEE,
    so both engines emit the identical 6dp value).  By symmetry of the
    both-directions list the u- and v-moments coincide, but both are
    computed (and checked equal in the twin) rather than assumed.

    Scale shape: degree = one explode+agg pass over the deduped a<b
    edge table; the two endpoint-degree joins are node-keyed (the
    degree relation is node-sized; AQE broadcasts when small); one
    single-row aggregate ends it.  BIGINT moments hold to ~3·10⁹ edge
    endpoints × max-degree² ≈ 2⁶³; beyond that switch the three sums
    to DOUBLE and accept last-ulp noise."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    und = sym.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")).distinct()
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    both = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    du = deg.select(F.col("node").alias("a"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("b"), F.col("d").alias("dv"))
    m = both.join(du, on="a").join(dv, on="b")
    agg = m.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum("du").alias("sx"),
        F.sum("dv").alias("sy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).alias("syy"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")
    # Regular graphs (e.g. a pure cycle) have zero degree variance:
    # assortativity is undefined → explicit NULL, not an ANSI
    # DIVIDE_BY_ZERO throw (ADVICE r3).  Twin uses NULLIF to match.
    varprod = varx.cast("double") * vary.cast("double")
    return agg.select(
        (F.col("m2") / 2).cast("bigint").alias("m_edges"),
        F.round(
            F.when(varprod > 0, num.cast("double") / F.sqrt(varprod)), 6
        ).alias("assortativity"),
    )


# Shared by k_core and its SQL twin (queries.py::_graph_kcore_sql) so
# the Spark fixpoint bound and the twin's unroll depth can never drift
# apart (ADVICE r3): a graph needing more peel rounds than this raises
# on the Spark side instead of silently returning a non-k-core.
KCORE_MAX_ITERS = 12


def k_core(edges: DataFrame, k: int, max_iters: int = KCORE_MAX_ITERS) -> DataFrame:
    """The k-core of the undirected simple graph: iteratively peel
    nodes of degree < k until fixpoint → (node, core_degree) for the
    surviving subgraph (empty when no core exists).

    The densest-region extractor (gds.kcore analog): on the entity
    graph it isolates the tightly interlinked cluster a KG curator
    inspects first; on near-dup graphs it separates template families
    from incidental pairs.

    Scale shape: each peel round is ONE degree hash-agg over the
    current edge set plus a semi-join keeping edges whose BOTH
    endpoints survive; the edge set only shrinks, and rounds are
    bounded by max_iters (peeling converges in ≤ diameter-ish rounds —
    12 covers real graphs; raise for adversarial chains).  Each round's
    edge set rides a localCheckpoint so lineage stays flat; the
    convergence check reads the checkpoint's count — no extra scan.
    The SQL twin unrolls the same rounds; a parity test pins that one
    extra round is a no-op at fixpoint (i.e. the unroll depth reached
    it)."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    e = (
        sym.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    converged = n_edges == 0
    for _ in range(max_iters):
        if n_edges == 0:
            converged = True
            break
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        e2 = (
            e.join(keep.withColumnRenamed("node", "a"), on="a", how="left_semi")
            .join(keep.withColumnRenamed("node", "b"), on="b", how="left_semi")
            .localCheckpoint()
        )
        n2 = e2.count()
        e = e2
        if n2 == n_edges:
            converged = True
            break
        n_edges = n2
    if not converged:
        raise RuntimeError(
            f"k_core did not reach fixpoint within max_iters={max_iters}; "
            "the result would contain degree<k nodes — raise max_iters "
            "(and keep the SQL twin's unroll depth in sync via "
            "KCORE_MAX_ITERS)"
        )
    return (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


def harmonic_centrality(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bounded-hop harmonic centrality over an undirected edge list:
    for every node, the count of nodes at shortest-path distance
    exactly 1, 2 and 3, and the harmonic score Σ 1/d — returned
    EXACTLY as ``harmonic6 = 6·n1 + 3·n2 + 2·n3`` (the ×6
    integer-scaled sum, LCM of {1,2,3}, so the score is a BIGINT and
    both engines agree bit-for-bit; callers divide by 6.0 for the
    float score).  The Cypher analog is the `MATCH (n)-[*..3]-(m)`
    closeness read over the loaded KG (utils/neo4j_loader.py:438-443
    is the reference's readback surface).

    Scale shape: the all-pairs bounded closure is built breadth-first
    — distance-d pairs come from one equi-join of the distance-(d-1)
    layer against the adjacency list, followed by a distinct and a
    left-anti against the previous layers (each layer is
    localCheckpoint'ed: flat lineage, reused by the next hop AND the
    anti-joins without recompute).  Per-node counts are one hash agg
    per layer over id-only pairs.  This is the same frontier algebra
    as k_hop but seeded with ALL nodes, so the d≤3 closure can be
    quadratic on dense graphs — the documented bound (a hub of degree
    h contributes h² distance-2 pairs); at corpus scale you run it on
    the pruned entity graph, not the raw co-occurrence graph."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    # fully-renamed adjacency copy: layer 1 IS `und`, so the expansion
    # join is a self-join — qualified refs would be ambiguous
    adj = und.select(F.col("src").alias("_mid"), F.col("dst").alias("_nxt"))
    layers = [und]  # distance-1 pairs
    prev = und
    for _ in range(2, max_hops + 1):
        cand = (
            prev.join(adj, prev["dst"] == adj["_mid"])
            .select("src", F.col("_nxt").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        for seen in layers:
            cand = cand.join(seen, ["src", "dst"], "left_anti")
        prev = cand.localCheckpoint()
        layers.append(prev)
    counts = None
    for d, layer in enumerate(layers, start=1):
        c = layer.groupBy("src").agg(F.count("*").cast("bigint").alias(f"n{d}"))
        counts = c if counts is None else counts.join(c, "src", "full_outer")
    out = counts
    for d in range(1, max_hops + 1):
        out = out.withColumn(f"n{d}", F.coalesce(F.col(f"n{d}"), F.lit(0)).cast("bigint"))
    # integer-scale by lcm(1..max_hops) so Σ n_d/d is exact (6 for the
    # default 3 hops → column harmonic6); derived from max_hops so the
    # scale factor and the column name can never drift from the depth
    from math import lcm

    scale = lcm(*range(1, max_hops + 1))
    score = None
    for d in range(1, max_hops + 1):
        term = F.col(f"n{d}") * F.lit(scale // d)
        score = term if score is None else score + term
    return out.select(
        F.col("src").alias("node"),
        *[F.col(f"n{d}") for d in range(1, max_hops + 1)],
        score.cast("bigint").alias(f"harmonic{scale}"),
    )


def link_prediction(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple graph
    of ``edges``: for every NON-adjacent pair at distance 2, the number
    of shared neighbors plus the resource-allocation index (Zhou,
    Lü & Zhang 2009 — Σ_z 1/deg(z) over the common neighbors z, the
    RA variant of Adamic-Adar) → (a, b, common, ra1e6) with a < b.

    This is the KG-completion read: which entity pairs the graph
    topology says SHOULD be connected but the extractor never linked —
    the candidate queue for a human-in-the-loop or LLM re-extraction
    pass (reference provenance: Docs2KG's unified KG has no completion
    pass at all, kg_construction/semantic_kg.py stops at extraction).

    Exactness: the RA score is Σ over common neighbors of
    1_000_000 DIV deg(z) — INTEGER division per term, so the sum is a
    BIGINT no accumulation order or libm difference can perturb
    (Adamic-Adar's 1/ln(deg) would hang cross-engine parity on libm
    log; RA ranks near-identically and stays in ℤ).

    Scale shape: candidates come only from the wedge join keyed on the
    shared neighbor z (never all-pairs); each wedge carries z's degree
    along, so scoring needs NO extra join — one (a,b) hash agg and one
    left-anti against the edge set finish the plan.  Per-z fanout is
    deg(z)² — for hub-heavy graphs cap or pre-filter hot z upstream
    (the linking.py block-cap pattern) and let AQE split the residue;
    ``min_common`` (default 2) keeps the emitted candidate set to pairs
    with real structural support."""
    nbr = undirect(edges).filter(F.col("src") != F.col("dst"))
    deg = nbr.groupBy(F.col("src").alias("z")).agg(F.count("*").alias("degz"))
    wz = nbr.select(F.col("src").alias("z"), F.col("dst").alias("n"))
    w1 = wz.select("z", F.col("n").alias("a")).join(deg, "z")
    w2 = wz.select("z", F.col("n").alias("b"))
    scored = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum(F.expr("1000000 DIV degz")).cast("bigint").alias("ra1e6"),
        )
        .filter(F.col("common") >= min_common)
    )
    existing = nbr.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return scored.join(existing, ["a", "b"], "left_anti").select(
        "a", "b", "common", "ra1e6"
    )


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    broadcast_below: int = 2_000_000,
) -> DataFrame:
    """Bounded-hop cheapest path from ``seeds`` over weighted edges —
    Bellman-Ford with an improved-only frontier (delta-stepping's
    0-bucket special case).  ``edges`` is (src, dst, w) with BIGINT
    weights (keep weights integer: distances then stay exact across
    engines — the repo's integer-scaling convention); ``seeds`` is a
    DataFrame with column `node`.  Returns (node, dist) where dist is
    the minimum total weight over any path from a seed using at most
    ``max_hops`` edges (seeds at 0).  The Cypher analog is
    `MATCH p = (s)-[*..k]->(n) RETURN n, min(weight(p))`.

    Correctness of the frontier pruning: dist(v) after round h is the
    min over paths of ≤h edges — a node re-enters the frontier exactly
    when that min improves, so every (h+1)-edge extension is relaxed
    either this round or the round its prefix last improved.  Negative
    weights are safe under the hop bound (no closure to diverge).

    Scale shape: per round ONE equi-join frontier⋈edges (the frontier
    broadcasts while its observed size is under ``broadcast_below`` —
    the edge table is then probed map-side, no exchange), one hash agg
    min per dst, one join against settled dists to keep improvements
    only.  Frontier and dist are localCheckpoint'ed per round (flat
    lineage; the cluster analog is a stage table).  Early-exits when no
    node improves.  Work per round is O(frontier out-edges), never the
    whole graph — the same frontier discipline as k_hop."""
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    frontier = dist
    n_frontier = dist.count()  # blocks already materialized — cheap
    for _ in range(max_hops):
        if n_frontier == 0:
            break
        f = frontier.alias("f")
        f_side = F.broadcast(f) if n_frontier < broadcast_below else f
        cand = (
            f_side.join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("f.dist") + F.col("e.w")).cast("bigint").alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint()
        )
        n_frontier = improved.count()
        if n_frontier == 0:
            break
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return dist


def pagerank_weighted(edges: DataFrame, iters: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration WEIGHTED PageRank: contribution flows
    proportionally to edge weight instead of 1/outdeg —
    prⁱ(v) = (1-d) + d · Σ_{u→v} prⁱ⁻¹(u) · w(u,v) / W(u), with
    W(u) = Σ_v w(u,v).  edges: (src, dst, w) with integer weights.
    → (node, pr).  Same loop shape as pagerank (the per-edge share
    w/W is pre-divided once and localCheckpointed; one equi-join +
    one sum agg per iteration, node-sized frames only); deterministic
    for a fixed iteration count."""
    # weights stay BIGINT through the W(u) aggregation (a double SUM in
    # a hash agg is accumulation-order-nondeterministic; integer sums
    # are exact) — doubles appear only in the per-edge share division
    e = edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    wout = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("bigint").alias("wsum")
    )
    shares = (
        e.join(wout, e["src"] == wout["node"])
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("wsum").cast("double")).alias("share"),
        )
        .localCheckpoint()
    )
    ranks = nodes.withColumn("pr", F.lit(1.0))
    for _ in range(iters):
        contrib = (
            shares.join(ranks, shares["src"] == ranks["node"])
            .select(F.col("dst"), (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def adamic_adar(edges: DataFrame, min_common: int = 1) -> DataFrame:
    """Adamic–Adar link-prediction scores over the undirected simple
    graph → (a, b, common, aa_micro) with a < b: each shared neighbor w
    contributes 1/ln(deg(w)), so rare shared neighbors count more than
    hubs — the standard upgrade over raw common-neighbor counts
    (neighbor_jaccard's read) for KG completion candidate ranking.

    Integer discipline: the per-neighbor weight is frozen to
    round(1e6/ln(deg)) BIGINT BEFORE summation (ln on a small exact
    integer, rounded once — the repo's DSIR/lp_i convention), so the
    aggregate is associative and engine/partitioning-independent; a
    wedge neighbor always has deg ≥ 2, so ln ≥ ln 2 and the weight is
    bounded by 1.44e6.

    Scale shape: same wedge join as neighbor_jaccard (candidates only
    from shared-neighbor keys, never all-pairs); the weight joins onto
    the wedge stream by the SAME key w, so it rides the existing
    partitioning; one (a,b) hash agg finishes it.  Hub caps upstream
    bound the per-key fanout exactly as for the Jaccard read."""
    nbr = undirect(edges).filter(F.col("src") != F.col("dst"))
    deg = nbr.groupBy(F.col("src").alias("w")).agg(F.count("*").alias("deg"))
    wdeg = deg.select(
        "w", F.expr("CAST(round(1000000 / ln(deg)) AS BIGINT)").alias("wt")
    )
    n1 = nbr.select(F.col("dst").alias("w"), F.col("src").alias("a"))
    n2 = nbr.select(F.col("dst").alias("w"), F.col("src").alias("b"))
    return (
        n1.join(wdeg, "w")
        .join(n2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum("wt").cast("bigint").alias("aa_micro"),
        )
        .filter(F.col("common") >= min_common)
    )
