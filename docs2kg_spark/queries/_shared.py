"""Shared infrastructure: table loader, transcript derivation, the KG/dedup memo chain, and cross-family SQL/constant helpers.

Split from the original queries.py monolith (round-4 verdict item 6);
segment order preserved.  Registry: docs2kg_spark.queries (package
__init__ re-exports every name, driver contract unchanged).
"""
from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from docs2kg_spark.oracle.sql_twins import _INJECT, _N_INJECT, TRANSCRIPTS_CTE


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


# Test seams (two, both load-bearing for the parity suites):
# 1. _TABLE_OVERRIDES: the randomized-input gate registers in-memory
#    DataFrames under a sentinel sf_dir (e.g. "randomized://seed11") so
#    every family module resolves the same override regardless of how
#    it imported `_t`, and the _kg_memo keys stay distinct per
#    sentinel — randomized runs never pollute the real sf-dir memos.
# 2. The legacy package-attribute patch: ~30 crafted-input tests do
#    `Q._t = lambda …` against docs2kg_spark.queries.  Before the
#    per-family split that rebound the single module global; now the
#    family modules hold their own import-time bindings, so this
#    function defers to a patched package attribute when one is
#    installed.  The thread-local guard keeps a patch's own
#    `orig(spark, sf_dir, name)` fallback from re-entering the patch
#    (orig IS this function — without the guard that loops forever).
_TABLE_OVERRIDES: dict[str, dict[str, DataFrame]] = {}

import threading as _threading

_IN_PKG_T = _threading.local()


def _pkg_patchable(fn):
    """Honor test patches of the PACKAGE attribute (``Q.<name> = …``)
    for a function whose callers hold an import-time binding.  The
    crafted-input suites patch q_kg_triples / derive_transcripts /
    q_kg_mentions / q_graph_communities this way; pre-split those
    assignments rebound the single module global every caller read.
    The per-name thread-local guard keeps a patch's own call to the
    original (which IS the wrapper) from re-entering the patch."""
    import functools

    name = fn.__name__

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        import docs2kg_spark.queries as _pkg

        cur = _pkg.__dict__.get(name)
        if cur is not None and cur is not wrapper and not getattr(_IN_PKG_T, name, False):
            setattr(_IN_PKG_T, name, True)
            try:
                return cur(*args, **kwargs)
            finally:
                setattr(_IN_PKG_T, name, False)
        return fn(*args, **kwargs)

    return wrapper


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ov = _TABLE_OVERRIDES.get(sf_dir)
    if ov is not None:
        return ov[name]
    import docs2kg_spark.queries as _pkg

    pkg_t = _pkg.__dict__.get("_t")
    if pkg_t is not None and pkg_t is not _t and not getattr(_IN_PKG_T, "on", False):
        _IN_PKG_T.on = True
        try:
            return pkg_t(spark, sf_dir, name)
        finally:
            _IN_PKG_T.on = False
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@_pkg_patchable
def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript table derived from documents — the exact
    Spark twin of oracle/sql_twins.py::TRANSCRIPTS_CTE."""
    docs = _t(spark, sf_dir, "documents")
    inject = spark.createDataFrame(_INJECT, "idx int, s0 string, s1 string")
    w = Window.partitionBy(F.col("doc_id") % 50).orderBy("doc_id")
    return (
        docs.join(F.broadcast(inject), (F.col("doc_id") % _N_INJECT).cast("int") == F.col("idx"))
        .select(
            F.format_string("conv-%04d", (F.col("doc_id") % 50).cast("int")).alias("conv_id"),
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            F.when((F.col("doc_id") % 4).cast("int") == 0, "system")
            .when((F.col("doc_id") % 4).cast("int") == 1, "user")
            .when((F.col("doc_id") % 4).cast("int") == 2, "assistant")
            .otherwise("tool")
            .alias("role"),
            F.concat(F.col("text"), F.lit(" update: "), F.col("s0"), F.lit("; owner is "), F.col("s1"), F.lit(".")).alias("text"),
            F.when((F.col("doc_id") % 4).cast("int") == 3, F.col("source")).alias("tool"),
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
        )
    )


# --- UDF-based stages: rows-only (no SQL twin possible) --------------------

# Session-scoped memo for the shared KG chain (VERDICT r3 item 4): the
# composed KG reads (entity timeline, co-mention PMI, negative samples,
# predicate stats, every graph_* query) each re-derived segmentation →
# mention extraction → triples/canonical-map from the raw tables, so a
# 101-query gate session paid the same subtree many times.  In
# production these reads consume MATERIALIZED tables; the memo gives
# the gate/bench the same shape.  Keyed on (applicationId, sf_dir) so a
# new SparkSession — or a different scale factor — never sees a stale
# DataFrame; values ride lazy localCheckpoints, so the first consumer
# pays the compute and later queries reuse the materialized blocks.
_KG_MEMO: dict = {}


def _kg_memo(spark, sf_dir, name, build):
    key = (spark.sparkContext.applicationId, str(sf_dir), name)
    if key not in _KG_MEMO:
        _KG_MEMO[key] = build().localCheckpoint(eager=False)
    return _KG_MEMO[key]


def _kg_stack(spark, sf_dir):
    from docs2kg_spark.operators.mentions import extract_mentions
    from docs2kg_spark.operators.segments import segment_transcripts

    segs = _kg_memo(
        spark,
        sf_dir,
        "segments",
        lambda: segment_transcripts(derive_transcripts(spark, sf_dir)),
    )
    m = _kg_memo(spark, sf_dir, "mentions", lambda: extract_mentions(segs, spark))
    return segs, m


def _minhash_pairs_memo(spark, sf_dir):
    """Default-cfg MinHash near-dup pairs, memoized like the KG chain:
    the pair table (id, id, sim) is consumed by the pair query AND the
    cross-source matrix — the signature/band computation must not
    replay per consumer in a gate/bench session (production reads a
    materialized pair table)."""
    from docs2kg_spark.operators.dedup import minhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return _kg_memo(
        spark, sf_dir, "minhash_pairs", lambda: minhash_near_dup_pairs(d)
    )


def _doc_dedup_map_memo(spark, sf_dir):
    """Transitive near-dup survivor map, memoized: consumed by the map
    query, the leak-free split, and the per-source dup rate."""
    from docs2kg_spark.operators.dedup import doc_dedup_map

    return _kg_memo(
        spark,
        sf_dir,
        "doc_dedup_map",
        lambda: doc_dedup_map(_t(spark, sf_dir, "documents"), spark),
    )


def _entity_graph_prefix() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return (
        f"WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},\n"
        "eg_e AS (SELECT DISTINCT subj AS src, obj AS dst FROM triples)"
    )


def _logprob_memo(spark, sf_dir):
    """Memoized per-doc unigram logprob table — consumed by the score
    query AND the perplexity-band profile in one gate/bench session
    (production reads a materialized score table)."""
    from docs2kg_spark.operators.tfidf import doc_unigram_logprob

    d = _t(spark, sf_dir, "documents")
    return _kg_memo(
        spark,
        sf_dir,
        "doc_logprob",
        lambda: doc_unigram_logprob(d).withColumnRenamed("id", "doc_id"),
    )


# ---------------------------------------------------------------------------
# hybrid retrieval fusion (operators/retrieval.py — RRF over two legs)
# ---------------------------------------------------------------------------


def _probe_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d, d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def _retrieval_legs(spark, sf_dir):
    """Memoized BM25 + n-gram-Jaccard top-10 legs over the 3 probe
    queries — consumed by the RRF fusion AND the leg-agreement audit in
    one gate/bench session (production reads materialized run tables),
    so each leg's tf/gram subtree is computed once."""
    from docs2kg_spark.operators.retrieval import bm25_topk, jaccard_topk

    d, probes = _probe_docs(spark, sf_dir)
    bm = _kg_memo(
        spark,
        sf_dir,
        "bm25_leg10",
        lambda: bm25_topk(d, probes, top_k=10).select("query_id", "doc_id", "rnk"),
    )
    jc = _kg_memo(
        spark,
        sf_dir,
        "jaccard_leg10",
        lambda: jaccard_topk(d, probes, top_k=10).select("query_id", "doc_id", "rnk"),
    )
    return bm, jc


def _jaccard_leg_sql(n: int = 3) -> str:
    """SQL twin of retrieval.jaccard_topk's gram leg; the n-token gram
    concat is built from n (ADVICE r3) so n != 3 callers get matching
    grams instead of a silently divergent twin."""
    gram_expr = " || ' ' || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(n)
    )
    return rf"""
jl_arrs AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS toks
  FROM documents
),
jl_g AS (
  SELECT id, unnest(list_distinct([{gram_expr}
                                   for i in generate_series(1, len(toks) - {n - 1})])) AS g
  FROM jl_arrs WHERE len(toks) >= {n}
),
jl_sz AS (SELECT id, count(*) AS ng FROM jl_g GROUP BY 1),
jl_inter AS (
  SELECT q.id AS query_id, d.id AS doc_id, count(*) AS ni
  FROM jl_g q JOIN jl_g d ON q.g = d.g AND d.id <> q.id
  WHERE q.id < 3
  GROUP BY 1, 2
),
jl_scored AS (
  SELECT i.query_id, i.doc_id,
         ROUND(CAST(ni AS DOUBLE) / (sq.ng + sd.ng - ni), 6) AS jac
  FROM jl_inter i JOIN jl_sz sq ON sq.id = i.query_id JOIN jl_sz sd ON sd.id = i.doc_id
),
jl_ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY jac DESC, doc_id) AS rnk
  FROM jl_scored
)
"""


_SWEEP_T = (30, 40, 50, 60, 70)


# (word, score) — a small fixed polarity lexicon (AFINN-style integer
# weights), baked identically into the Spark broadcast and the twin's
# VALUES so the scores are engine-exact.
_POLARITY_LEXICON: tuple[tuple[str, int], ...] = (
    ("good", 2), ("great", 3), ("excellent", 3), ("love", 2),
    ("happy", 2), ("fixed", 1), ("works", 1), ("thanks", 2),
    ("resolved", 2), ("fast", 1),
    ("bad", -2), ("terrible", -3), ("broken", -2), ("fails", -2),
    ("error", -1), ("bug", -1), ("hate", -3), ("slow", -1),
    ("outage", -2), ("blocked", -1),
)


_MARKOV_ITERS = 8
