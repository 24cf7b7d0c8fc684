"""Deduplication operators for training-data pipelines.

Five strategies, each scale-shaped:
- exact:      hash-groupBy on a normalized content fingerprint — one
              shuffle, JVM-side, SQL-oracle-able;
- minhash:    shingle → MinHash → LSH band → bucket self-join →
              verified Jaccard — reuses the entity-linking machinery
              (operators/linking.py); pairs never materialize beyond
              candidate blocks;
- simhash:    64-bit simhash over token hashes, banded by 4×16-bit
              chunks (Hamming ≤ 3 ⇒ at least one identical chunk by
              pigeonhole); pandas UDF for the bit-fold, joins JVM-side;
- ngram-jaccard: token-n-gram Jaccard verification over candidate pairs;
- embedding:  cosine near-dup over an embedding column, JVM-side
              (zip_with dot product), brute-force within LSH buckets or
              globally at small scale — SQL-oracle-able via DuckDB
              list_cosine_similarity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docs2kg_spark.functions.ids import WS_RE
from pyspark.sql.functions import pandas_udf

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.functions.skew import ensure_min_parallelism
from docs2kg_spark.operators.linking import make_minhash_udf
from docs2kg_spark.operators.text import fingerprint


# per-worker cache for minhash_estimator_audit's exact-Jaccard UDF
_IU_SHINGLE_CACHE: dict = {}


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """groups of identical (normalized) texts: fingerprint, group size,
    and the kept (min-id) representative."""
    return (
        documents.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """keep one doc (min id) per normalized-content fingerprint."""
    w_keep = (
        documents.select("*", fingerprint(text_col).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return documents.join(w_keep.select(id_col), on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# MinHash-LSH near-dup (document granularity; reuses linking UDFs)
# --------------------------------------------------------------------------

def _band_candidate_pairs(sig: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(id, sig) → distinct banded candidate pairs (a, b) with a < b —
    the LSH blocking step, factored out so the near-dup query and the
    estimator audit provably see the IDENTICAL candidate set.  The band
    self-join carries only (id, band_key); band_key xxhash64-compresses
    the per-band signature row tuple (the DuckDB twin compares the raw
    tuples — key equality coincides up to 2^-64 collisions)."""
    rows_per_band = cfg.minhash_perms // cfg.lsh_bands
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            "|",
                            F.lit(i),
                            *[F.col("sig")[i * rows_per_band + r].cast("string") for r in range(rows_per_band)],
                        )
                    )
                    for i in range(cfg.lsh_bands)
                ]
            )
        ).alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=(F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig | None = None,
    est_z: float = 1.65,
) -> DataFrame:
    """→ (a, b, sim): near-duplicate doc pairs with verified character
    shingle Jaccard ≥ cfg.jaccard_threshold, *subject to candidate
    recall*: both the LSH banding (P(candidate|J=0.7)≈0.89 at 8×4) and
    the signature-estimated prefilter (a true pair at J=t has ≈Φ(−est_z)
    ≈5% chance its 32-perm estimate falls below t−est_z·σ and is dropped
    before exact verification) are approximate — pairs that survive are
    exactly verified, but a small fraction of true pairs never reach
    verification.  Set est_z higher (or banding wider) to trade compute
    for recall; the driver's DuckDB oracle replicates banding + prefilter
    + verification bit-for-bit, so the candidate set itself is asserted.

    Scale shape: the band self-join carries ONLY (id, band_key) — texts
    are re-attached to the (much smaller) deduped candidate-pair stream
    for verification, so the wide columns never ride the big shuffle.
    Banding defaults to 8 bands × 4 rows, the S-curve for the 0.7 dedup
    threshold (P(candidate|J=0.7)≈0.89, P(J=0.3)≈0.06); the entity
    linker keeps its own looser 16×2 banding for its 0.45 threshold."""
    cfg = cfg or PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    mh = make_minhash_udf(cfg)
    src = ensure_min_parallelism(
        documents.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    # materialize the signature table ONCE (localCheckpoint, like the
    # linker's band table): bands + both sides of the estimated-J join
    # consume it, and without materialization Catalyst inlines the Arrow
    # UDF subtree into every consumer (observed 6x ArrowEvalPython in the
    # physical plan — 6 full signature passes at scale).  localCheckpoint
    # over .cache() because a cache is never unpersisted by this function
    # (it would leak storage memory across calls in a long-lived session)
    # and can silently re-run the UDF under LRU pressure.
    sig = src.withColumn("sig", mh("text")).localCheckpoint()
    pairs = _band_candidate_pairs(sig, cfg)
    # signature-estimated Jaccard prefilter (JVM-side, zip_with equality
    # fraction): banding is deliberately high-recall, so candidates can
    # outnumber true pairs ~400:1 (measured 98 765 → 256 at sf0.1) and
    # the exact shingle verification UDF would dominate the query.  The
    # one-sided 95% cutoff t − 1.65·σ(32 perms) prunes the bulk before
    # any text leaves the JVM; exact verification then decides.
    t = cfg.jaccard_threshold
    sigma = (t * (1 - t) / cfg.minhash_perms) ** 0.5
    est_cutoff = max(0.0, t - est_z * sigma)
    sa = sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, on="a")
        .join(sb, on="b")
        .withColumn(
            "est_j",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
            / F.lit(float(cfg.minhash_perms)),
        )
        .filter(F.col("est_j") >= est_cutoff)
        .select("a", "b")
    )

    ta = src.select(F.col("id").alias("a"), F.col("text").alias("text_a"))
    tb = src.select(F.col("id").alias("b"), F.col("text").alias("text_b"))
    survivors = est.join(ta, on="a").join(tb, on="b")

    from docs2kg_spark.operators.linking import make_jaccard_udf

    jac = make_jaccard_udf(cfg)
    return (
        survivors.withColumn("sim", jac("text_a", "text_b"))
        .filter(F.col("sim") >= cfg.jaccard_threshold)
        .select("a", "b", "sim")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

@pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit simhash over whitespace tokens (deterministic md5 token
    hashes; unweighted).  Bit-fold is numpy-vectorized: (n_tokens × 64)
    sign matrix summed per bit."""
    import hashlib

    import numpy as np

    bit_idx = np.arange(64, dtype=np.uint64)
    out = []
    for t in texts:
        tokens = (t or "").lower().split()
        if not tokens:
            out.append(0)
            continue
        hs = np.fromiter(
            (int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big") for tok in tokens),
            dtype=np.uint64,
            count=len(tokens),
        )
        bits = ((hs[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
        counts = (2 * bits - 1).sum(axis=0)
        v = int(((counts > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64))
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out, dtype="int64")


def simhash_near_dup_pairs(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """→ (a, b, hamming): candidate generation by 16-bit chunk equality
    (pigeonhole: hamming ≤ 3 over 4 chunks ⇒ one chunk equal), exact
    Hamming verification via bit_count — all JVM-side after the simhash
    UDF."""
    sig = ensure_min_parallelism(documents).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sig")
    )
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(i), F.shiftrightunsigned("sig", i * 16).bitwiseAND(F.lit(0xFFFF)).cast("string"))
                for i in range(4)
            ])
        ).alias("chunk_key"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, on=(F.col("a.chunk_key") == F.col("b.chunk_key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# token n-gram Jaccard
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    gram_df_cap: int = 1000,
    return_stats: bool = False,
):
    """Exact token-n-gram Jaccard over all pairs sharing ≥1 n-gram —
    expressed entirely in DataFrame ops: tokenize → n-gram explode →
    equi-join on n-gram → per-pair intersection count → Jaccard.
    Scales because the join key is the n-gram (rare grams → small
    groups); stop-gram blowup is bounded by a frequency cap.

    Capped stop-grams are NOT silent: with ``return_stats=True`` the
    return is ``(pairs, stats)`` where stats is a 1-row DataFrame
    (n_grams_total, n_grams_capped, max_gram_df) — the same logged-drop
    contract as the linker's block_stats (linking.candidate_pairs).
    NB the cap changes semantics (a capped gram no longer contributes to
    intersection counts), which is exactly why the drop count surfaces."""
    toks = ensure_min_parallelism(documents).select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE).alias("toks"),
    )
    grams = (
        toks.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
                )
            ).alias("gram"),
            F.size("toks").alias("n_toks"),
        )
        .filter(F.length("gram") > 0)
        .distinct()
    )
    # frequency cap: drop grams appearing in too many docs (stop-grams)
    gram_freq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    stats = gram_freq.agg(
        F.count("*").alias("n_grams_total"),
        F.sum(F.when(F.col("df") > gram_df_cap, 1).otherwise(0)).alias("n_grams_capped"),
        F.max("df").alias("max_gram_df"),
    )
    capped = grams.join(
        F.broadcast(gram_freq.filter(F.col("df") > gram_df_cap).select("gram")),
        on="gram",
        how="left_anti",
    )
    sizes = capped.groupBy("id").agg(F.count("*").alias("n_grams"))
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(b, on=(F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_grams", "na"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_grams", "nb"), on="b")
        .withColumn("sim", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )
    return (pairs, stats) if return_stats else pairs


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def cosine_expr(vec_a, vec_b):
    """JVM-side cosine similarity of two array<float/double> columns —
    zip_with dot product and aggregate norms, no Python."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(vec_a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(vec_b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return dot / (na * nb)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_above: int = 10_000,
    n_planes: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """→ (a, b, cos): within-label cosine pairs ≥ threshold.

    Scale shape: label alone is a weak blocking key — one label with N
    vectors is an N²/2 cosine join on a single reducer family, a
    scale-killer at 100 TB (round-1 verdict, perf item 4).  Above
    ``bucket_above`` corpus rows the join key therefore becomes
    (label ∧ hyperplane-LSH bucket) using the same seeded planes as the
    ANN operator (similarity.hyperplanes): the N² blowup per label drops
    to Σ_buckets n_b², at the cost of missing cross-bucket pairs (a pair
    at cosine ≥ t lands in one bucket with P ≈ (1 − arccos(t)/π)^planes;
    identical vectors always collide).  Below the threshold the exact
    brute-force-within-label path runs — that is the path the DuckDB
    oracle checks at test scale; the bucketed path is parity-tested
    against it in the degenerate 0-plane case and subset-tested at 8.
    Pass ``n_rows`` when the caller already knows the corpus size
    (catalog stats / Iceberg snapshot row count) to skip the probe
    entirely; otherwise the probe is one count() over the UNPROJECTED
    input — for a parquet/Iceberg source that collapses to a
    metadata-only aggregate (footers, no data scan), where the round-2
    form counted the projected+repartitioned relation and paid a real
    scan job per call."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col("label").alias("lbl")]
    src = ensure_min_parallelism(embeddings.select(*cols))
    if n_rows is None:
        n_rows = embeddings.count()
    if n_rows > bucket_above:
        from docs2kg_spark.operators.similarity import _bucket_expr, hyperplanes

        dim = len(src.select("v").first()["v"])
        src = src.withColumn("bkt", _bucket_expr(F.col("v"), hyperplanes(dim, n_planes)))
        join_cond = (
            (F.col("a.lbl") == F.col("b.lbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id"))
        )
    else:
        join_cond = (F.col("a.lbl") == F.col("b.lbl")) & (F.col("a.id") < F.col("b.id"))
    a = src.alias("a")
    b = src.alias("b")
    return (
        a.join(b, on=join_cond)
        .withColumn("cos", cosine_expr(F.col("a.v"), F.col("b.v")))
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"), F.col("cos"))
    )


# --------------------------------------------------------------------------
# near-dup clusters → canonical survivor (the "keep one per cluster" end
# of the dedup story: pairs are evidence, the kept set is the product)
# --------------------------------------------------------------------------

def doc_dedup_map(
    documents: DataFrame,
    spark=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """→ (doc_id, canonical_id) [strings]: connected components over the
    verified MinHash near-dup pairs, min-id survivor per cluster;
    singletons map to themselves.  Mirrors the entity canonicalization
    (reference merge semantics, neo4j_loader.py:153-217) applied to
    whole documents — the transitive-closure step exact-pair dedup
    cannot do (A≈B, B≈C ⇒ one survivor for {A,B,C} even if A,C were
    never a candidate pair).

    Scale shape: pairs come from the banded LSH join (never all-pairs);
    the CC fixpoint is the linker's hybrid (driver union-find under
    cc_driver_max_edges, else the distributed large-star/small-star loop
    with per-round localCheckpoint).  Ids are compared AS STRINGS on both
    engines so the min-survivor choice is engine-independent."""
    from docs2kg_spark.operators.linking import connected_components

    cfg = cfg or PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    pairs = minhash_near_dup_pairs(documents, id_col=id_col, text_col=text_col, cfg=cfg)
    nodes = documents.select(F.col(id_col).cast("string").alias("node_id"))
    edges = pairs.select(
        F.col("a").cast("string").alias("a"), F.col("b").cast("string").alias("b")
    )
    cmap = connected_components(nodes, edges, cfg)
    return cmap.select(F.col("node_id").alias("doc_id"), "canonical_id")


def doc_dedup_keep(
    documents: DataFrame,
    spark=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """documents with near-dup clusters collapsed to their canonical
    survivor — the deduplicated corpus itself."""
    cmap = doc_dedup_map(documents, spark, id_col, text_col, cfg)
    keep = cmap.filter(F.col("doc_id") == F.col("canonical_id")).select(
        F.col("doc_id").alias("_keep_id")
    )
    return documents.join(
        keep, on=F.col(id_col).cast("string") == F.col("_keep_id"), how="left_semi"
    )


# --------------------------------------------------------------------------
# duplicated-substring profiling (exact-substring dedup, gram-granular)
# --------------------------------------------------------------------------

def dup_span_profile(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """→ (doc_id, n_grams, n_dup_grams, dup_fraction): per-document
    share of word-``n``-gram positions whose gram also occurs in at
    least ``min_df`` DISTINCT documents — the gram-granular form of
    exact-substring deduplication (the published suffix-array method's
    per-document duplication profile, scored at fixed-length windows so
    it distributes).  High ``dup_fraction`` docs are boilerplate /
    template / mirror candidates; the profile is the input to choosing
    a removal threshold, the way repetition signals feed quality
    filtering.

    Tokenization is byte-identical to :func:`ngram_jaccard_pairs` /
    contamination (lower + trim + ``WS_RE`` split — the pinned
    dialect-identical whitespace class).  Documents shorter than ``n``
    tokens contribute their single sub-``n`` gram (same convention as
    ``contamination.word_ngrams``); empty/whitespace docs have
    ``n_grams = 0`` and ``dup_fraction = 0.0``.

    Scale shape (100 TB):
    - gram generation is a narrow ``transform``+``explode`` over the
      pruned (id, text) scan — no shuffle;
    - occurrences collapse to (doc, gram, occ) FIRST (shuffle 1, with
      map-side partial agg), so a document repeating one gram a million
      times ships one row into everything downstream;
    - the distinct-document frequency is ``count(*)`` over a
      PARTITION BY gram window on that deduped relation (shuffle 2) —
      one row per (doc, gram) means the plain count IS the distinct doc
      count, no countDistinct expansion;
    - the per-doc rollup aggregates the same deduped rows (shuffle 3).
      All three shuffles move (gram, doc) pairs, never raw text; at
      petabyte scale substitute ``xxhash64(gram)`` for the gram string
      to fix the shuffle key at 8 bytes (kept as the string here so the
      DuckDB twin is value-exact).
    """
    from pyspark.sql import Window

    toks = ensure_min_parallelism(documents).select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE).alias("toks"),
    )
    grams = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
            )
        ).alias("gram"),
    ).filter(F.length("gram") > 0)
    pairs = grams.groupBy("id", "gram").agg(F.count("*").alias("occ"))
    flagged = pairs.withColumn(
        "df", F.count("*").over(Window.partitionBy("gram"))
    )
    per_doc = flagged.groupBy("id").agg(
        F.sum("occ").alias("n_grams"),
        F.coalesce(
            F.sum(F.when(F.col("df") >= min_df, F.col("occ"))), F.lit(0)
        ).alias("n_dup"),
    )
    ids = documents.select(F.col(id_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.round(
            F.coalesce(F.col("n_dup") / F.col("n_grams"), F.lit(0.0)), 6
        ).alias("dup_fraction"),
    )


# position encoding for winnowing: fingerprint = hash * 2^20 + position,
# so array_min picks (lowest hash, leftmost position) deterministically
# in one comparison.  Caps documents at 2^20 tokens — beyond that the
# position wraps into the hash bits; split such documents upstream.
_WINNOW_POS_BITS = 1_048_576


def winnow_fingerprints(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm) → (id, fp, pos): the selected
    k-token-gram hashes and their 1-based gram positions.  Docs with
    fewer than `k` tokens have no grams and are absent.

    Winnowing's guarantee: any shared run of ≥ window+k-1 tokens
    between two documents yields at least one SHARED selected
    fingerprint, while only ~2/(window+1) of all grams are kept — the
    position-robust middle ground between exact-hash dedup (whole-doc
    brittle) and MinHash (set semantics, order-blind).  Deviation from
    the paper: ties select the LEFTMOST minimal gram (the hash·2^20+pos
    encoding makes min() total), not the rightmost — determinism is
    what the oracle needs, and the density guarantee is unchanged.

    Scale shape: everything up to the fingerprint set happens INSIDE
    the row — gram hashing, window minima, and dedup are array
    expressions over the token array (no explode until the final
    per-fingerprint unnest, which emits ~2n/(window+1) rows, not n·k).
    The md5-based gram hash is the engine-portable draw (same idiom as
    sampling.py), so the DuckDB twin selects bit-identical
    fingerprints."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), WS_RE), lambda x: x != ""
    )
    arrs = documents.select(F.col(id_col).alias("id"), toks.alias("toks")).filter(
        F.size("toks") >= k
    )
    # Enforce the documented position-capacity precondition (ADVICE r3):
    # positions occupy the low log2(_WINNOW_POS_BITS) bits, so a doc
    # with >= 2^20 grams would silently corrupt fp/pos.  raise_error is
    # wired into the toks column itself (not a prunable side column) so
    # Catalyst cannot optimize the check away.
    arrs = arrs.withColumn(
        "toks",
        F.when(
            F.size("toks") < _WINNOW_POS_BITS + (k - 1), F.col("toks")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnow_fingerprints: document exceeds the 2^20-gram "
                        "position capacity (split it upstream): id="
                    ),
                    F.col("id").cast("string"),
                )
            )
        ),
    )
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> CAST(conv(substr(md5(concat_ws(' ', slice(toks, i, {k}))), 1, 8), 16, 10) AS BIGINT))"
    )
    enc = F.expr(
        f"transform(grams, (g, i) -> g * {_WINNOW_POS_BITS}L + i + 1)"
    )
    sel = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(enc) - {window - 1}, 1)), "
        f"j -> array_min(slice(enc, j, {window}))))"
    )
    return (
        arrs.withColumn("grams", grams)
        .withColumn("enc", enc)
        .select("id", F.explode(sel).alias("s"))
        .select(
            "id",
            (F.col("s") / _WINNOW_POS_BITS).cast("bigint").alias("fp"),
            (F.col("s") % _WINNOW_POS_BITS).cast("int").alias("pos"),
        )
    )


def winnow_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints →
    (doc_a, doc_b, n_shared), doc_a < doc_b, pairs sharing fewer than
    `min_shared` distinct fingerprints dropped.

    The local-plagiarism / boilerplate-overlap detector: two documents
    surface here iff they share enough selected grams, i.e. enough
    runs of ≥ window+k-1 identical consecutive tokens — order
    SENSITIVE where n-gram Jaccard is order-blind.

    Scale shape: the pair generator is an equi-join on the fingerprint
    VALUE, the same blocked shape as every other dedup path here; the
    `max_df` filter (one hash agg over the already-thin fingerprint
    table) removes boilerplate fingerprints shared by more than max_df
    docs BEFORE the join, bounding per-key fanout at max_df² — the
    gram-cap playbook from ngram_jaccard_pairs, but exact and
    engine-mirrorable (a fixed df threshold, not a per-block top-N)."""
    thin = _winnow_thin(documents, id_col, text_col, k, window, max_df)
    return _winnow_pair_counts(thin, min_shared)


def _winnow_thin(documents, id_col, text_col, k, window, max_df):
    """df-filtered per-doc fingerprint table (id, fp) — shared by the
    pair generator and the containment scorer."""
    fps = (
        winnow_fingerprints(documents, id_col, text_col, k, window)
        .select("id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    df_ok = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    return fps.join(df_ok, on="fp")


def _winnow_pair_counts(thin, min_shared):
    return (
        thin.alias("a")
        .join(
            thin.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_containment(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """MOSS-style containment per winnowing candidate pair →
    (doc_a, doc_b, n_shared, n_a, n_b, containment) with containment =
    n_shared / min(n_a, n_b) over the df-FILTERED fingerprint sets —
    the asymmetric overlap score that separates "b quotes a section of
    a" (high containment, low Jaccard) from global near-duplication.

    Scale shape: the thin fingerprint table rides ONE lazy
    localCheckpoint consumed by the pair join AND the per-doc counts;
    the count join keys on doc id over the already-reduced pair set."""
    thin = _winnow_thin(documents, id_col, text_col, k, window, max_df).localCheckpoint(
        eager=False
    )
    pairs = _winnow_pair_counts(thin, min_shared)
    cnt = thin.groupBy("id").agg(F.count("*").cast("bigint").alias("n_fp"))
    return (
        pairs.join(cnt.select(F.col("id").alias("doc_a"), F.col("n_fp").alias("n_a")), "doc_a")
        .join(cnt.select(F.col("id").alias("doc_b"), F.col("n_fp").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


def audit_sample_mod(n_docs: int, full_below: int = 12_500) -> int:
    """Deterministic pair-sampling denominator for the estimator audit:
    1 (audit every banded pair) below ``full_below`` documents — which
    covers every driver-oracle and bench scale, so twins are untouched
    — then growing ∝ N so the audited pair count stays bounded.  An
    audit needs statistical power, not every pair (the operator
    docstring's own scale note, made executable in round 5)."""
    return max(1, n_docs // full_below)


def minhash_estimator_audit(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig | None = None,
    sample_mod: int | None = 1,
    n_rows: int | None = None,
) -> DataFrame:
    """Estimator-vs-truth audit for the MinHash dedup path → one row
    per BANDED candidate pair (a, b, n_agree, n_inter, n_union): the
    32-perm signature agreement count next to the EXACT char-shingle
    intersection/union sizes.  n_agree/32 is the estimate the prefilter
    thresholds on; n_inter/n_union is the truth the verifier computes —
    this query puts both on one row so the estimator's bias/variance
    (and hence the safety margin of the t − z·σ prefilter cutoff) is
    itself an oracled, regression-guarded quantity, the dedup analog of
    ann_lsh_recall's approximation audit.

    Every emitted column is an INTEGER — the ratios are left to the
    reader so no float ever crosses the engine boundary.

    Scale shape: candidates come from the same _band_candidate_pairs
    blocking as the production query (never all-pairs); signatures are
    localCheckpoint'ed once; the exact counts run over the candidate
    stream only, via one Arrow pass over the re-attached texts.
    ``sample_mod=None`` auto-scales a deterministic pair sample
    (``audit_sample_mod``: every pair below 12.5k docs — all oracle
    scales — then a bounded ∝N sample) so the audit's exact-truth legs
    never dominate a large corpus run."""
    cfg = cfg or PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    k = cfg.shingle_k
    if sample_mod is None:
        if n_rows is None:
            n_rows = documents.count()
        sample_mod = audit_sample_mod(n_rows)
    mh = make_minhash_udf(cfg)
    src = ensure_min_parallelism(
        documents.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    sig = src.withColumn("sig", mh("text")).localCheckpoint()
    pairs = _band_candidate_pairs(sig, cfg)
    if sample_mod > 1:
        # deterministic pair sample via plain BIGINT arithmetic (Knuth
        # multiplicative constant) — expressible identically in any SQL
        # engine, unlike xxhash64, should a sampled audit ever be twinned
        pairs = pairs.filter(
            F.pmod(F.col("a") * F.lit(2654435761) + F.col("b"), F.lit(sample_mod)) == 0
        )

    sa = sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    agree = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(
                F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
            ).cast("int").alias("n_agree"),
        )
    )

    # exact truth via Python sets WITH a per-worker text→shingle-set
    # cache: a doc appearing in p candidate pairs is shingled once per
    # worker, not p times, and Python's str hash caching makes each
    # per-pair intersection pure pre-hashed probes (the JVM
    # array_intersect alternative re-hashes every element every row —
    # measured slower at sf0.1).  Keyed by (shingle_k, text) — reused
    # Python workers (spark.python.worker.reuse) share this module
    # global across calls, so a later audit with a different k must
    # not see shingles computed at the old k; the per-k subdict makes
    # entries parameter-correct.  Bounded by a clear-at-128k guard; at
    # audit scale beyond worker memory, audit a deterministic pair
    # sample instead — an audit needs statistical power, not every
    # pair.
    @pandas_udf(T.ArrayType(T.LongType()))
    def iu(xs: pd.Series, ys: pd.Series) -> pd.Series:
        cache: dict = _IU_SHINGLE_CACHE.setdefault(k, {})

        def sh(s):
            s = s or ""
            got = cache.get(s)
            if got is None:
                if len(cache) > 131072:
                    cache.clear()
                t = s.lower()
                got = {t} if len(t) <= k else {
                    t[i : i + k] for i in range(len(t) - k + 1)
                }
                cache[s] = got
            return got

        out = []
        for x, y in zip(xs, ys):
            a, b = sh(x), sh(y)
            ni = len(a & b)
            out.append([ni, len(a) + len(b) - ni])
        return pd.Series(out)

    ta = src.select(F.col("id").alias("a"), F.col("text").alias("text_a"))
    tb = src.select(F.col("id").alias("b"), F.col("text").alias("text_b"))
    return (
        agree.join(ta, "a")
        .join(tb, "b")
        .withColumn("_iu", iu("text_a", "text_b"))
        .select(
            "a",
            "b",
            "n_agree",
            F.col("_iu")[0].cast("bigint").alias("n_inter"),
            F.col("_iu")[1].cast("bigint").alias("n_union"),
        )
    )


def lsh_band_sweep(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bandings: tuple[int, ...] = (4, 8, 16),
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Candidate-volume sweep across LSH banding configs → one row per
    banding (bands, rows_per_band, n_candidates): how many candidate
    pairs each (bands × rows) S-curve admits from the SAME 32-perm
    signature table — the tuning read that prices a recall/compute
    trade before re-running a petabyte dedup (more bands ⇒ higher
    recall at the threshold AND more false candidates to verify).

    Scale shape: signatures are computed ONCE (the expensive Arrow
    pass, localCheckpointed); each banding re-keys the checkpointed
    table and pays only its own (id, band_key) self-join; the output is
    |bandings| rows."""
    import dataclasses

    cfg = cfg or PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    mh = make_minhash_udf(cfg)
    src = ensure_min_parallelism(
        documents.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    sig = src.withColumn("sig", mh("text")).localCheckpoint()
    parts = []
    for bands in bandings:
        c = dataclasses.replace(cfg, lsh_bands=bands)
        n = _band_candidate_pairs(sig, c).agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        parts.append(
            n.select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(cfg.minhash_perms // bands).cast("int").alias("rows_per_band"),
                "n_candidates",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ppjoin_pairs(
    documents: DataFrame,
    threshold_pct: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT 3-token-shingle similarity self-join via prefix filtering
    (PPJoin-lite, Xiao et al., WWW'08): emits every document pair with
    shingle-set Jaccard >= threshold_pct/100 — no approximation,
    unlike the MinHash/SimHash paths (reference dedups via pandas
    loops, e.g. kg_construction dedup helpers; this is the exact-join
    analog).  Sets are 3-token shingles, not unigram words: unigram
    word sets over templated corpora make MOST pairs qualify (the
    output goes quadratic); shingles keep qualifying pairs = true
    near-dups at any corpus size.

    Algorithm: shingles get a single GLOBAL canonical order (document
    frequency ascending, shingle as tie-break), each document keeps
    only its prefix — the first n - ceil(t*n) + 1 shingles in that
    order — and candidates are pairs sharing ANY prefix shingle (the
    prefix filtering theorem guarantees this is a superset of all
    qualifying pairs under a consistent global order).  Candidates are
    then verified with the exact integer-scaled Jaccard test
    inter * 100 >= t_pct * (na + nb - inter), so no float decides
    membership.

    100 TB shape: the df table is one (shingle) hash agg; the per-doc
    rank is a doc-keyed window (each doc's shingle list is small);
    the candidate join keys on PREFIX shingles only — rare by
    construction, so per-key fanout is bounded by the rarest-shingle
    df, not by boilerplate df (joining on ALL shingles would put
    every pair sharing a common template line through the shuffle);
    verification is row-local array math on the pair rows.
    """
    from pyspark.sql import Window

    t_pct = int(threshold_pct)
    toks = (
        documents.select(
            F.col(id_col).alias("id"),
            F.expr(
                f"filter(split(lower({text_col}), '[^a-z0-9]+'), x -> x != '')"
            ).alias("w"),
        )
        .filter(F.size("w") >= 3)
        .select(
            "id",
            # shingles are hashed to 32-bit ints (md5 prefix — computable
            # identically in the DuckDB twin) BEFORE the distinct: BIGINT
            # keys make the rank window, the prefix self-join, and the
            # verification arrays ~an order of magnitude lighter than
            # 20-40-byte strings.  A hash collision merges two shingles in
            # BOTH engines the same way, so engine parity stays exact; the
            # effect on the Jaccard value itself is O(|set|^2 / 2^32).
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(w) - 3), "
                        "i -> CAST(conv(substring(md5(concat_ws(' ', w[i], w[i+1], w[i+2])), 1, 8), 16, 10) AS BIGINT))"
                    )
                )
            ).alias("tok"),
        )
        # EAGER: four consumers (df agg, rank, sizes, arrays) land in one
        # action — a lazy checkpoint would replay the explode per branch
        .localCheckpoint()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df"), F.col("tok"))
        ),
    )
    sizes = toks.groupBy("id").agg(F.count("*").cast("bigint").alias("n"))
    # prefix length p = n - ceil(t*n) + 1, integer ceil: (t_pct*n + 99) DIV 100
    # EAGER checkpoint: pref feeds BOTH sides of the candidate self-join —
    # without it the rank window computes twice
    pref = (
        ranked.join(sizes, "id")
        .filter(F.col("rk") <= F.col("n") - F.expr(f"({t_pct} * n + 99) DIV 100") + 1)
        .select("id", "tok")
        .localCheckpoint()
    )
    cand = (
        pref.select(F.col("id").alias("a"), "tok")
        .join(pref.select(F.col("id").alias("b"), "tok"), "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    arrs = toks.groupBy("id").agg(
        F.sort_array(F.collect_list("tok")).alias("ts"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        cand.join(arrs.select(F.col("id").alias("a"), F.col("ts").alias("ta"), F.col("n").alias("na")), "a")
        .join(arrs.select(F.col("id").alias("b"), F.col("ts").alias("tb"), F.col("n").alias("nb")), "b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")).cast("bigint"))
        .filter(F.expr(f"inter * 100 >= {t_pct} * (na + nb - inter)"))
        .select(
            "a",
            "b",
            "inter",
            "na",
            "nb",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ).alias("jacc"),
        )
    )


# --------------------------------------------------------------------------
# exact-substring scrub (the removal stage of suffix-array dedup)
# --------------------------------------------------------------------------

def exact_substr_scrub(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """→ (doc_id, n_toks, n_removed, scrubbed_text): the REMOVAL stage
    of exact-substring deduplication — every token position covered by
    a word-``n``-gram that occurs in ≥ ``min_df`` DISTINCT documents is
    deleted, and the survivors are re-joined with single spaces.  This
    is the "dedup the corpus, not just score it" step of Lee et al.,
    *Deduplicating Training Data Makes Language Models Better*
    (arXiv:2107.06499), scored at fixed-length windows so it
    distributes (a maximal duplicated substring of ≥ n tokens is
    exactly an interval union of duplicated n-grams, so fixed windows
    lose nothing but sub-``n`` tails); all occurrences are removed,
    which the paper reports is indistinguishable from keep-one in
    downstream loss.  Within-doc-only repeats are NOT removed
    (``min_df`` counts distinct documents — same convention as
    :func:`dup_span_profile`, whose profile is this operator's
    threshold-picking input).

    Tokenization is lower + trim + ``WS_RE`` split — the same dialect
    as :func:`dup_span_profile` — PLUS a zero-length-token filter the
    profile family deliberately omits: ``trim`` strips ASCII spaces
    only, so a text with a leading/trailing tab or newline yields an
    empty first/last token under the bare split.  The scrub drops
    those (an empty token can't carry a gram or survive reassembly);
    the profile counts them, matching ``ngram_jaccard_pairs`` /
    contamination.  Consequence: on such texts the profile used to
    pick ``min_df``/``n`` sees one more gram position than the scrub
    removes from — thresholds chosen from the profile remain valid
    (the divergence is ≤1 gram at each affected edge), but the gram
    sets are not byte-identical.  The DuckDB twin mirrors the scrub's
    filter, so the scrubbed text itself is exact and cross-engine
    reproducible char-for-char.

    Scale shape (100 TB):
    - gram generation and interval expansion are narrow (explode over
      the pruned scan, no raw text in any shuffle key);
    - duplicated-gram detection reuses the (doc, gram)-deduped relation
      + per-gram count window (shuffles move (gram, doc) pairs only);
    - covered positions collapse to one array per doc (one doc-keyed
      shuffle of int offsets, ≤ |tokens| per doc);
    - reassembly is ROW-LOCAL: the covered-index array joins back to
      the tokenized doc and a transform/filter/concat_ws rebuilds the
      text without exploding tokens through a shuffle.  Per-doc state
      is O(tokens), the same bound the tokenizer already needs.
    """
    from pyspark.sql import Window

    toks = ensure_min_parallelism(documents).select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), WS_RE),
            lambda t: F.length(t) > 0,
        ).alias("toks"),
    )
    grams = (
        toks.select(
            "id",
            F.size("toks").alias("len"),
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0)))
            ).alias("i"),
        )
        .select(
            "id",
            "len",
            "i",
            F.concat_ws(" ", F.slice("toks", F.col("i") + 1, n)).alias("gram"),
        )
        .filter(F.length("gram") > 0)
    )
    dup_grams = (
        grams.select("id", "gram")
        .distinct()
        .withColumn("df", F.count("*").over(Window.partitionBy("gram")))
        .filter(F.col("df") >= min_df)
        .select("id", "gram")
    )
    covered = (
        grams.join(dup_grams, ["id", "gram"])
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("i"), F.least(F.col("i") + n - 1, F.col("len") - 1)
                )
            ).alias("t"),
        )
        .groupBy("id")
        .agg(F.collect_set("t").alias("cov"))
    )
    return (
        toks.join(covered, "id", "left")
        .withColumn("cov", F.coalesce("cov", F.array().cast("array<int>")))
        .select(
            F.col("id").alias(id_col),
            F.size("toks").cast("bigint").alias("n_toks"),
            F.size("cov").cast("bigint").alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    # surviving indices, ascending (array_except keeps
                    # first-array order and is hash-based — O(len+|cov|)
                    # row-local, never len·|cov|)
                    F.array_except(
                        F.when(
                            F.size("toks") > 0,
                            F.sequence(F.lit(0), F.size("toks") - 1),
                        ).otherwise(F.array().cast("array<int>")),
                        "cov",
                    ),
                    lambda j: F.element_at("toks", j + 1),
                ),
            ).alias("scrubbed_text"),
        )
    )
