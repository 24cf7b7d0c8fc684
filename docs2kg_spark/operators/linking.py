"""Entity linking & canonicalization: mentions → canonical_map.

Reimplements the reference's entity-unification step — Cypher grouping
by (text, label, project_id) with arbitrary-first survivor
(utils/neo4j_loader.py:153-230, re-run once per document, an accidental
O(N²)) — as ONE distributed pass, extended from exact-key merge to
near-duplicate surface linking (per BASELINE.json::north_star):

1. entity nodes = distinct (text, label); node_id is content-addressed,
   so the exact-key merge of the reference is free (identical surfaces
   collapse to one node by construction);
2. MinHash signatures over character shingles (vectorized pandas UDF);
3. LSH banding: explode to (band_key, node), self-join per band →
   candidate pairs; degenerate blocks are capped and the drop is
   *counted and returned*, never silent (SURVEY.md §4.3.3);
4. exact Jaccard verification of candidates (pandas UDF) ≥ threshold;
5. connected components: a driver-side min-id union-find when the
   verified edges fit under cc_driver_max_edges, else alternating
   large-star/small-star in DataFrame joins (Kiveris et al. SoCC'14,
   the algorithm north_star names), bounded by cc_max_rounds with
   localCheckpoint lineage cuts (SURVEY.md §4.4); survivor =
   min(node_id) — the deterministic replacement for Cypher's
   arbitrary-first (neo4j_loader.py:171-174).

Small vocabularies run steps 2-5 on the driver from one collect
(_canonical_driver_side).  Both routes share one MinHash signature
(_minhash_signature), one char-shingle Jaccard (_jaccard) and one
union-find (_min_id_components), so they differ only in where the work
runs; exact verification means banding decides cost, never output.
Driver-side results (that route's map and block stats, the driver
union-find's labels) go back to Spark through Arrow
(session.driver_frame): a Python-list frame would run one Python-worker
task per slice when read, ~0.02 s of worker CPU each on 4 vCPUs.

Scale notes: band self-join is the only potentially-skewed shuffle and
is protected by the block cap + AQE skew-join; the CC loop operates on
candidate-pair edges only (≪ nodes), not on the mention table.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.functions.ids import entity_node_id
from docs2kg_spark.session import driver_frame

_FNV_PRIME = np.uint64(1099511628211)


def _perm_params(n_perms: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed, seed-derived (a, b) for n_perms wrapping-mod-2^64 hash
    functions — deterministic across runs/workers (no wall-clock, no
    unseeded RNG)."""
    rng = np.random.RandomState(1234567)
    a = (rng.randint(0, 1 << 62, size=n_perms).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=n_perms).astype(np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """uint64 hashes of the k-byte shingles of lower(text) — fully
    vectorized (sliding windows × positional weights, wrapping mod 2^64).
    Shingles are over utf-8 *bytes*; for the verification step the exact
    char-based Jaccard is used, so this only shapes candidate recall."""
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(1, dtype=np.uint64)
    if len(b) <= k:
        w = _FNV_PRIME ** np.arange(len(b), dtype=np.uint64)
        return np.array([np.sum(b.astype(np.uint64) * w, dtype=np.uint64)], dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    weights = _FNV_PRIME ** np.arange(k, dtype=np.uint64)
    hashes = (windows * weights).sum(axis=1, dtype=np.uint64)
    return np.unique(hashes)


def entity_nodes(mentions: DataFrame) -> DataFrame:
    """distinct (text,label) surfaces with content-addressed node ids."""
    return (
        mentions.select("text", "label")
        .distinct()
        .withColumn("node_id", entity_node_id("text", "label"))
    )


def _minhash_signature(text: str | None, k: int, a_params: np.ndarray, b_params: np.ndarray) -> np.ndarray:
    """uint64 MinHash signature: (a*x + b) wrapping mod 2^64, min over
    the shingle hashes, per permutation."""
    hv = _shingle_hashes(text or "", k)
    return (a_params[:, None] * hv[None, :] + b_params[:, None]).min(axis=1)


def _char_shingles(s: str | None, k: int) -> set:
    s = (s or "").lower()
    if len(s) <= k:
        return {s}
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def _jaccard(x: str | None, y: str | None, k: int) -> float:
    """exact Jaccard of the character k-shingle sets of lower(x), lower(y)."""
    sx, sy = _char_shingles(x, k), _char_shingles(y, k)
    union = len(sx | sy)
    return len(sx & sy) / union if union else 1.0


def _min_id_components(edges) -> dict[str, str]:
    """Union-find over (a, b) pairs with the smaller root always kept, so
    every root is its component's min id.  Returns node → root for the
    nodes that are not roots; absent nodes map to themselves."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def make_minhash_udf(cfg: PipelineConfig):
    k = cfg.shingle_k
    a_params, b_params = _perm_params(cfg.minhash_perms)

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [_minhash_signature(t, k, a_params, b_params).view(np.int64).tolist() for t in texts]
        )

    return minhash


def make_jaccard_udf(cfg: PipelineConfig):
    k = cfg.shingle_k

    @pandas_udf(T.DoubleType())
    def jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jaccard(x, y, k) for x, y in zip(a, b)])

    return jaccard


def band_table(nodes: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """nodes(node_id, text, label) → (node_id, text, label, band_key):
    one row per (node, LSH band); band_key = sha2(band_idx | label |
    that band's signature rows).  Shared by the batch candidate join
    (candidate_pairs) and the incremental band state
    (streaming/incremental.py), so both generate identical keys."""
    rows_per_band = cfg.minhash_perms // cfg.lsh_bands
    mh = make_minhash_udf(cfg)
    sig = nodes.withColumn("sig", mh("text"))

    return sig.select(
        "node_id",
        "text",
        "label",
        F.explode(
            F.array(
                *[
                    F.sha2(
                        F.concat_ws(
                            "|",
                            F.lit(i),
                            F.col("label"),
                            *[F.col("sig")[i * rows_per_band + r].cast("string") for r in range(rows_per_band)],
                        ),
                        256,
                    )
                    for i in range(cfg.lsh_bands)
                ]
            )
        ).alias("band_key"),
    )


def candidate_pairs(nodes: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """nodes(node_id, text, label) → (pairs(a, b, text_a, text_b),
    block_stats).  block_stats reports capped blocks so drops are logged,
    not silent.

    Candidate recall bound (the linking analog of
    dedup.minhash_near_dup_pairs' documented ~5% prefilter loss): LSH
    banding is the only lossy step on this path — pairs that become
    candidates are verified with EXACT Jaccard, so precision is 1.0 by
    construction, but a true pair that lands in no shared band is never
    seen.  At the default 16 bands × 2 rows (32 perms), the S-curve
    P(candidate | J) = 1 − (1 − J²)^16 gives:

        J = 0.45 (threshold) → 0.973
        J = 0.55            → 0.993
        J = 0.70            → 0.99998

    i.e. conservatively ≥ 0.97 of true pairs AT the decision threshold
    reach verification, rising fast above it (tests/test_linking_recall.py
    pins measured recall on a seeded borderline-J fixture ≥ this curve).
    Block capping (max_block_size) can drop further pairs but only in
    degenerate blocks, and block_stats counts every cap.  To trade
    compute for recall, raise lsh_bands (more bands × fewer rows shifts
    the S-curve left)."""
    bands = band_table(nodes, cfg)

    # materialize the band table ONCE: block_stats (collected by the
    # pipeline for lineage) and the candidate self-join both consume it,
    # and without this the whole sig-UDF subtree runs twice
    bands = bands.localCheckpoint()

    block_sizes = bands.groupBy("band_key").agg(F.count("*").alias("block_size"))
    block_stats = block_sizes.agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("block_size") > cfg.max_block_size, 1).otherwise(0)).alias("n_capped_blocks"),
        F.max("block_size").alias("max_block_size"),
    )

    kept = bands.join(
        F.broadcast(block_sizes.filter(F.col("block_size") > cfg.max_block_size).select("band_key")),
        on="band_key",
        how="left_anti",
    )

    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(
            b,
            on=(F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.node_id") < F.col("b.node_id")),
        )
        .select(
            F.col("a.node_id").alias("a"),
            F.col("b.node_id").alias("b"),
            F.col("a.text").alias("text_a"),
            F.col("b.text").alias("text_b"),
        )
        .distinct()
    )
    return pairs, block_stats


def verified_edges(pairs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    jac = make_jaccard_udf(cfg)
    return (
        pairs.withColumn("sim", jac("text_a", "text_b"))
        .filter(F.col("sim") >= F.lit(cfg.jaccard_threshold))
        .select("a", "b")
    )


def _cc_driver_side(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-id union-find over a collected edge list, in one job.  Only
    called when the verified edge count is under cfg.cc_driver_max_edges;
    the edge set is the graph of *near-dup surface pairs*, which is tiny
    relative to mentions/nodes."""
    labels = list(_min_id_components((r["a"], r["b"]) for r in edges.collect()).items())
    ldf = driver_frame(nodes.sparkSession, "node_id string, comp string", labels)
    return (
        nodes.select("node_id")
        .join(F.broadcast(ldf), on="node_id", how="left")
        .select("node_id", F.coalesce("comp", "node_id").alias("canonical_id"))
    )


def _cc_star(nodes: DataFrame, edges: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) in
    DataFrame joins — the algorithm named by BASELINE.json::north_star.

    The edge set itself is rewritten each half-round:

    - large-star: group neighborhoods in BOTH directions by u with
      m = min(Γ(u) ∪ {u}); every neighbor v > u is re-pointed at m.
      Each undirected edge is processed exactly once (from its smaller
      endpoint), so the emitted set is ≤ the input set.
    - small-star: orient edges high→low, group by the high endpoint u
      with m = min(Γ⁻(u)); every v ∈ Γ⁻(u) ∪ {u} \\ {m} is pointed at m.

    The fixpoint is a union of stars whose centers are the component
    minima, so the final edge list IS the (node → canonical) map.
    Convergence is detected from (count, xor of edge hashes) read off
    the same job that materializes the round's edges — one job per
    half-round, no extra comparison scan.
    """

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _signature(e: DataFrame, obs_name: str) -> tuple[DataFrame, tuple]:
        obs = Observation(obs_name)
        observed = e.observe(
            obs, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("a", "b")).alias("h")
        )
        out = observed.localCheckpoint()
        m = obs.get
        return out, (m["n"], m["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            nbrs.join(mins, on="a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is already high→low oriented (large-star emits v > u ≥ m)
        mins = e.groupBy("a").agg(F.min("b").alias("m"))
        withm = e.join(mins, on="a")
        re_pointed = withm.filter(F.col("b") != F.col("m")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        self_edge = mins.select(F.col("a"), F.col("m").alias("b"))
        return re_pointed.union(self_edge).filter(F.col("a") != F.col("b")).distinct()

    cur, sig = _signature(_canon(edges), "cc_star_init")
    converged = False
    for _ in range(cfg.cc_max_rounds):
        after_large = _large_star(cur)
        cur, sig2 = _signature(_small_star(after_large), "cc_star_round")
        if sig2 == sig:
            converged = True
            break
        sig = sig2
    if not converged:
        warnings.warn(
            f"star CC hit cc_max_rounds={cfg.cc_max_rounds} without a fixpoint; "
            "component labels may be non-minimal (raise cc_max_rounds)",
            stacklevel=2,
        )

    # fixpoint edges are (member, component-min) stars.  min(comp) per
    # node is free at a true fixpoint (one edge per member) but restores
    # the one-row-per-node invariant when cc_max_rounds stopped the loop
    # mid-convergence — small-star can emit (b,m) from several groups,
    # and a bare left join would then duplicate node rows (a malformed
    # canonical map, strictly worse than non-minimal labels).
    star_map = cur.groupBy(F.col("a").alias("node_id")).agg(F.min("b").alias("comp"))
    return (
        nodes.select("node_id")
        .join(star_map, on="node_id", how="left")
        .select("node_id", F.coalesce("comp", "node_id").alias("canonical_id"))
    )


def connected_components(nodes: DataFrame, edges: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(a,b) edges → (node_id, canonical_id), canonical_id = the min
    node_id of the component.

    Hybrid dispatch: the verified-edge graph is materialized once and
    counted; at or under cfg.cc_driver_max_edges it resolves with a
    driver-side union-find (1 job instead of rounds x 2-shuffle jobs +
    checkpoints — measured ~4s saved per pipeline run at sandbox sizes),
    above it the distributed large-star/small-star loop runs."""
    edges = edges.localCheckpoint()
    if edges.count() <= cfg.cc_driver_max_edges:
        return _cc_driver_side(nodes, edges)
    return _cc_star(nodes, edges, cfg)


_BLOCK_STATS_SCHEMA = "n_blocks bigint, n_capped_blocks bigint, max_block_size bigint"


def _canonical_driver_side(rows: list, cfg: PipelineConfig) -> tuple[list, tuple]:
    """The whole LSH+verify+CC chain over an already-collected surface
    vocabulary — semantically identical to candidate_pairs →
    verified_edges → connected_components (parity-tested in
    tests/test_linking.py), in zero Spark jobs.  Banding groups on the
    raw (band, label, sig-rows) tuple the distributed path sha2-hashes."""
    a_params, b_params = _perm_params(cfg.minhash_perms)
    rows_per_band = cfg.minhash_perms // cfg.lsh_bands
    k = cfg.shingle_k

    blocks: dict[tuple, list] = {}
    for r in rows:
        sig = _minhash_signature(r["text"], k, a_params, b_params)
        for i in range(cfg.lsh_bands):
            key = (i, r["label"], tuple(int(x) for x in sig[i * rows_per_band : (i + 1) * rows_per_band]))
            blocks.setdefault(key, []).append(r)
    if blocks:
        sizes = [len(v) for v in blocks.values()]
        stats = (len(blocks), sum(1 for s in sizes if s > cfg.max_block_size), max(sizes))
    else:
        stats = (0, None, None)

    pairs: dict[tuple[str, str], tuple[str, str]] = {}
    for members in blocks.values():
        if len(members) > cfg.max_block_size:
            continue
        ms = sorted(members, key=lambda r: r["node_id"])
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs[(ms[i]["node_id"], ms[j]["node_id"])] = (ms[i]["text"], ms[j]["text"])

    comp = _min_id_components(
        ab for ab, (ta, tb) in pairs.items() if _jaccard(ta, tb, k) >= cfg.jaccard_threshold
    )
    out = [
        (r["node_id"], r["text"], r["label"], comp.get(r["node_id"], r["node_id"]))
        for r in sorted(rows, key=lambda r: r["node_id"])
    ]
    return out, stats


def build_canonical_map(
    mentions: DataFrame, spark: SparkSession, cfg: PipelineConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """mentions → (canonical_map(node_id, text, label, canonical_id),
    block_stats)."""
    cfg = cfg or PipelineConfig()
    # the distinct-over-mentions shuffle is the expensive part at scale —
    # materialize it ONCE (localCheckpoint); the size probe, the driver
    # fast path's collect, and (on the distributed path) banding, the CC
    # seed, and the final join all reuse it.  (A limit(cap+1).collect()
    # probe without the checkpoint re-scans mentions in escalating
    # CollectLimit waves — measured slower than one clean materialization.)
    nodes = entity_nodes(mentions).localCheckpoint()
    cap = cfg.linking_driver_max_nodes
    if cap > 0:
        if nodes.count() <= cap:
            probe = [r.asDict() for r in nodes.collect()]
            out, stats = _canonical_driver_side(probe, cfg)
            # one slice/file: the map is dimension-sized (it feeds broadcast
            # joins downstream) — don't smear ~41 rows over default-parallelism
            # empty files
            cmap = driver_frame(
                spark, "node_id string, text string, label string, canonical_id string", out
            ).coalesce(1)
            block_stats = driver_frame(spark, _BLOCK_STATS_SCHEMA, [stats])
            return cmap, block_stats
    pairs, block_stats = candidate_pairs(nodes, cfg)
    edges = verified_edges(pairs, cfg)
    cmap = connected_components(nodes, edges, cfg)
    return (
        nodes.join(cmap, on="node_id").select("node_id", "text", "label", "canonical_id"),
        block_stats,
    )
