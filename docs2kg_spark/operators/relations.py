"""Relation-level operators over mentions and triples: conversation
co-mention PMI, turn-windowed co-mention, and TransE-style negative
sampling.

The co-occurrence triples themselves (SURVEY.md §2.10: every ordered
pair of distinct mentions within one segment, predicate from the
ontology's (rel, src_type, dst_type) connections, utils/models.py:6-9,
with RELATES_TO fallback) are emitted inside the fused extraction pass —
operators/mentions.py::_triples_of — so relation emission needs no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def comention_pmi(
    mentions: DataFrame,
    canonical_map: DataFrame,
    min_co: int = 2,
) -> DataFrame:
    """Conversation-level co-mention PMI between CANONICAL entities →
    (ent_a, ent_b, n_co, pmi), ent_a < ent_b, pairs co-mentioned in
    fewer than `min_co` conversations dropped (rare-pair PMI is
    unstable — the Church–Hanks caveat, same as collocations.py).

    This is the statistical edge-weighting layer the co-occurrence
    triples lack: RELATES_TO says two entities appeared together at
    least once; PMI = ln(P(a,b) / (P(a)·P(b))) over conversation
    incidence says whether they appear together MORE than their
    individual frequencies predict — the standard signal for promoting
    a co-occurrence edge to a real association (reference consumers do
    this by eyeballing edge counts in Neo4j; Docs2KG
    kg_construction/semantic_kg.py keeps only raw co-occurrence).

    Scale shape: mention→canonical is a broadcast join against the
    entity VOCABULARY (distinct surfaces — bounded, linking.py's
    fast-path argument); the per-conversation distinct collapses the
    fanout BEFORE the pair self-join, which is equi-keyed on conv_id
    (pair blowup bounded by per-conversation entity counts, with AQE
    skew-split as backstop); then one
    hash agg and two vocabulary-sized joins.  The PMI double is
    left-associative and structurally identical in the SQL twin
    (n_co·N / c_a / c_b), rounded to 6dp."""
    c = F.broadcast(canonical_map.select("text", "label", "canonical_id"))
    ce = (
        mentions.select("conv_id", "text", "label")
        .join(c, on=["text", "label"])
        .select("conv_id", F.col("canonical_id").alias("ent"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ec = ce.groupBy("ent").agg(F.count("*").alias("c"))
    nt = ce.agg(F.countDistinct("conv_id").cast("double").alias("n"))
    pairs = (
        ce.alias("a")
        .join(
            ce.alias("b"),
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.ent") < F.col("b.ent")),
        )
        .groupBy(F.col("a.ent").alias("ent_a"), F.col("b.ent").alias("ent_b"))
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )
    return (
        pairs.join(ec.select(F.col("ent").alias("ent_a"), F.col("c").alias("ca")), on="ent_a")
        .join(ec.select(F.col("ent").alias("ent_b"), F.col("c").alias("cb")), on="ent_b")
        .crossJoin(F.broadcast(nt))
        .select(
            "ent_a",
            "ent_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.round(
                F.log(
                    F.col("n_co").cast("double") * F.col("n") / F.col("ca") / F.col("cb")
                ),
                6,
            ).alias("pmi"),
        )
    )


def number_by_sorted_rank(df: DataFrame, col: str) -> DataFrame:
    """Number distinct `col` values by global lexicographic rank →
    (col, idx 1-based) — bit-identical to row_number() OVER (ORDER BY
    col) but WITHOUT the single-reducer global sort (VERDICT r3).

    Two-phase order-preserving numbering (same pattern as
    segments.segment_transcripts_bucketed): first-character buckets are
    lexicographically contiguous, so global rank = per-bucket prefix
    offset + local rank.  The local row_number window partitions by
    bucket; the only un-partitioned window runs over the per-bucket
    COUNT aggregate (≤ |alphabet| rows — constant-bounded, broadcast
    back).  Callers must pass a distinct relation."""
    from pyspark.sql import Window

    local = df.withColumn("_b", F.substring(col, 1, 1)).withColumn(
        "_li", F.row_number().over(Window.partitionBy("_b").orderBy(col))
    )
    counts = local.groupBy("_b").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
    return local.join(F.broadcast(offsets.select("_b", "_off")), on="_b").select(
        col, (F.col("_off") + F.col("_li")).cast("int").alias("idx")
    )


def negative_triples(triples: DataFrame, salt: str = "neg-v1") -> DataFrame:
    """TransE-style corrupted-object negative sampling → one
    deterministic negative per DISTINCT (subj, pred, obj):
    (subj, pred, obj, neg_obj), neg_obj drawn from the global object
    vocabulary by content hash (Bordes et al. 2013's uniform-corruption
    scheme, made reproducible).

    The KG-embedding training-data generator: every positive triple
    needs a negative whose object is swapped for a random-but-FIXED
    other object, so reruns, resumes, and the DuckDB twin all draw the
    identical sample.  Draw = md5(subj|pred|obj|salt) first 8 hex as an
    integer, modulo the vocabulary; if the draw lands on the true
    object the NEXT slot (wraparound) is taken, so neg_obj ≠ obj
    whenever the vocabulary has ≥ 2 entries (degenerate 1-object
    vocabularies return the object itself — nothing else exists).

    Scale shape: the object vocabulary is numbered WITHOUT a global
    ORDER BY window (VERDICT r3 — that was the repo's only
    single-reducer sort): two-phase order-preserving numbering, the
    same pattern as segments.segment_transcripts_bucketed.  Lexically
    order-preserving first-character buckets partition the local
    row_number window, and global ranks are recovered by adding prefix
    offsets from a per-bucket count aggregate (≤ |alphabet| rows — the
    only un-partitioned window runs over THAT, not the vocabulary).
    The resulting idx is bit-identical to row_number() OVER (ORDER BY
    cand), so the DuckDB twin's draw is unchanged.  Both candidate
    slots join back by index against the broadcast numbering; the big
    triples relation is touched by one narrow projection.  No
    corpus-sized sort, no UDF."""
    t = triples.select("subj", "pred", "obj").distinct()

    # lazy checkpoint: o1, o2 and the size agg all consume the SAME
    # materialized numbering — without it the distinct+window replays
    # three times (plan showed 3 Window nodes / 10 Exchanges; 1 / 6 after)
    objs = number_by_sorted_rank(
        t.select(F.col("obj").alias("cand")).distinct(), "cand"
    ).localCheckpoint(eager=False)
    n_obj = objs.agg(F.max("idx").cast("long").alias("n_obj"))
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", "subj", "pred", "obj", F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    drawn = (
        t.crossJoin(F.broadcast(n_obj))
        .withColumn("idx", (h % F.col("n_obj") + 1).cast("int"))
        .withColumn("idx2", (F.col("idx") % F.col("n_obj") + 1).cast("int"))
    )
    o1 = F.broadcast(objs.select(F.col("idx"), F.col("cand").alias("cand1")))
    o2 = F.broadcast(
        objs.select(F.col("idx").alias("idx2"), F.col("cand").alias("cand2"))
    )
    return (
        drawn.join(o1, on="idx")
        .join(o2, on="idx2")
        .select(
            "subj",
            "pred",
            "obj",
            F.when(F.col("cand1") != F.col("obj"), F.col("cand1"))
            .otherwise(F.col("cand2"))
            .alias("neg_obj"),
        )
    )


def windowed_comention(
    mentions: DataFrame, segments: DataFrame, window: int = 2
) -> DataFrame:
    """Turn-windowed entity co-mention counts → (ent_a, ent_b, n_co),
    ent_a < ent_b: how often two entities are mentioned within
    ``window`` turns of each other in the same conversation.

    Conversation-level co-occurrence (comention_pmi) says two entities
    share a conversation SOMEWHERE; this localizes the association to a
    dialogue neighborhood — the signal for edges that reflect an actual
    exchange rather than a long transcript's topical drift (the
    discourse-window co-occurrence standard in distributional
    semantics; reference provenance: Docs2KG's co-occurrence edges are
    whole-unit, kg_construction/semantic_kg.py — no locality notion).

    An occurrence is a DISTINCT (conv, turn, entity) incidence (an
    entity mentioned 5× inside one turn counts once there); one event
    per ordered occurrence pair with 0 ≤ Δturn ≤ window, same-turn
    pairs kept once via entity order, self-pairs dropped.  All counts
    are integers — exact by construction.

    Scale shape: the Δturn ≤ window predicate is a RANGE condition, so
    the join is bucketized the asof.py way — occurrences carry bucket
    = seg_idx DIV (window+1); the probe side duplicates into (bucket,
    bucket+1) and the join is a pure EQUI-join on (conv, bucket) with
    the Δ filter row-local after it.  Per-key fanout is bounded by
    occurrences-per-(conv, 2·window-ish turns), never a conv-wide cross
    product; one (ent_a, ent_b) hash agg finishes."""
    occ = (
        mentions.join(
            segments.select("conv_id", "seg_id", "seg_idx"),
            ["conv_id", "seg_id"],
        )
        .select(
            "conv_id",
            "seg_idx",
            F.concat_ws(":", "label", "text").alias("ent"),
        )
        .distinct()
    )
    bw = window + 1
    left = occ.select(
        "conv_id",
        F.col("seg_idx").alias("si"),
        F.col("ent").alias("ea"),
        (F.col("seg_idx") / bw).cast("bigint").alias("bkt"),
    )
    right = occ.select(
        "conv_id",
        F.col("seg_idx").alias("sj"),
        F.col("ent").alias("eb"),
        F.explode(
            F.array(
                (F.col("seg_idx") / bw).cast("bigint"),
                (F.col("seg_idx") / bw).cast("bigint") - 1,
            )
        ).alias("bkt"),
    )
    d = F.col("sj") - F.col("si")
    return (
        left.join(right, ["conv_id", "bkt"])
        .filter(
            (d >= 0)
            & (d <= window)
            & (F.col("ea") != F.col("eb"))
            & ((d > 0) | (F.col("ea") < F.col("eb")))
        )
        .select(
            F.least("ea", "eb").alias("ent_a"),
            F.greatest("ea", "eb").alias("ent_b"),
        )
        .groupBy("ent_a", "ent_b")
        .agg(F.count("*").cast("bigint").alias("n_co"))
    )
