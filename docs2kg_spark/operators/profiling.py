"""Corpus / key-distribution profiling — the diagnostics a 100 TB job
runs BEFORE committing to a partitioning strategy.

The reference has no profiling stage (its per-file loop never sees the
corpus as a whole); these are the distributed-first additions that make
the north_rule's "skew from hot entities and long conversations is
handled explicitly" actionable: you salt what the profile shows is hot.

- ``key_skew_profile``: top-N hottest keys of any column with their
  share of total rows — the direct input to choosing the ``n_salts`` of
  functions/skew.py's salted join / AQE skew thresholds.  Scale shape: ONE hash
  aggregate reduces the row stream to |distinct keys|; the top-N is
  orderBy+limit = TakeOrdered (per-partition local top-N, only N rows
  reach the driver); the total joins in as a broadcast single-row agg
  over the SAME grouped exchange (Catalyst reuses it), never a global
  window over the counts table (|keys| rows through one reducer).

- ``length_quantiles``: exact per-group percentiles of a length-like
  expression (p50/p90/p99 + count).  Exact (sort-based) percentile is
  the oracle-comparable form; at petabyte scale swap in
  ``F.percentile_approx`` (t-digest, one pass, mergeable) — same call
  shape, documented trade: approx results are engine-specific and lose
  the DuckDB twin.

Both emit 6dp-rounded doubles so the DuckDB twins compare exactly
(linear-interpolation percentiles and integer-ratio shares are
deterministic given identical inputs in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """→ (key, n, share, rnk): the ``top_n`` most frequent values of
    ``key_col`` (nulls excluded — a null key never routes to a shuffle
    partition), with ``share`` = n / total non-null rows rounded to 6dp
    and ``rnk`` the 1-based hotness rank (count desc, key asc — a total
    order, so the cut is deterministic)."""
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(top_n)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "key",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .withColumn(
            "rnk",
            # window over the already-cut top-N relation: top_n rows through
            # one task, never the full counts table
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("key").asc()))
            .cast("int"),
        )
    )


def length_quantiles(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """→ (group, n_docs, p50, p90, p99): exact linear-interpolation
    percentiles of ``length(text_col)`` per group.  Column names follow
    the requested percentiles (p{int(q*100)})."""
    ln = F.length(F.col(text_col))
    aggs = [F.count("*").cast("bigint").alias("n_docs")]
    for q in percentiles:
        aggs.append(
            F.round(F.percentile(ln, F.lit(q)), 6).alias(f"p{int(round(q * 100))}")
        )
    return df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)


def entity_timeline(
    mentions: DataFrame, segments: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """Per-canonical-entity corpus timeline →
    (canonical_id, canonical_text, n_mentions, n_convs, first_turn,
    last_turn).

    The temporal-KG read: when does each (canonicalized) entity first
    and last appear across the corpus, how often, and in how many
    conversations — the per-entity lineage summary the reference's
    users would run in Cypher over the loaded graph (Docs2KG keeps
    per-document provenance on nodes; this aggregates it corpus-wide
    after entity unification).

    Scale shape: mentions→segments is an equi-join on seg_id (both
    sides carry it from the same upstream partitioning); the
    (text,label)→canonical join is against the entity VOCABULARY
    (distinct surfaces — broadcast-sized by construction, same argument
    as linking.py's driver fast path); the aggregate is one hash agg
    keyed by canonical_id.  count(DISTINCT conv_id) uses Spark's
    two-phase distinct-aggregate expansion — bounded by mentions×1,
    never a per-key set collect."""
    m = mentions.select("conv_id", "seg_id", "text", "label")
    s = segments.select("seg_id", "seg_idx")
    c = F.broadcast(canonical_map.select("text", "label", "canonical_id"))
    agg = (
        m.join(s, on="seg_id")
        .join(c, on=["text", "label"])
        .groupBy("canonical_id")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
            F.min("seg_idx").cast("int").alias("first_turn"),
            F.max("seg_idx").cast("int").alias("last_turn"),
        )
    )
    survivors = F.broadcast(
        canonical_map.filter(F.col("node_id") == F.col("canonical_id")).select(
            "canonical_id", F.col("text").alias("canonical_text")
        )
    )
    return agg.join(survivors, on="canonical_id").select(
        "canonical_id",
        "canonical_text",
        "n_mentions",
        "n_convs",
        "first_turn",
        "last_turn",
    )


def kwic_contexts(
    mentions: DataFrame, segments: DataFrame, window: int = 24
) -> DataFrame:
    """Keyword-in-context (KWIC) concordance for extracted mentions:
    each mention joined back to its segment and flanked with up to
    ``window`` characters of left/right context — the standard
    annotation-audit read (the reference's users eyeball exactly this
    when validating `semantic_kg` extractions against source text).
    → (conv_id, seg_id, start, surface, label, left_ctx, right_ctx).

    Offsets are Python-convention (0-based start, exclusive end) into
    the LOWERED segment text — the string the extraction UDF tokenized
    (operators/mentions.py) — so contexts are sliced from
    ``lower(text)``, never the raw text, keeping every byte aligned
    with the stored offsets by construction.

    Scale shape: one equi-join on the already-partitioned seg_id key
    (mentions were produced partitioned by segment, so under bucketed
    stage tables this is Exchange-free), then row-local 1-based
    ``substring`` arithmetic — zero additional shuffle, no window
    functions, and the segment text column is projected once and
    dropped before the result leaves the join stage."""
    seg_text = segments.select("seg_id", F.lower(F.col("text")).alias("_lt"))
    w = int(window)
    return (
        mentions.join(seg_text, "seg_id")
        .select(
            "conv_id",
            "seg_id",
            "start",
            F.col("text").alias("surface"),
            "label",
            F.substring(
                F.col("_lt"),
                F.greatest(F.lit(1), F.col("start") - F.lit(w - 1)),
                F.least(F.col("start"), F.lit(w)),
            ).alias("left_ctx"),
            F.substring(F.col("_lt"), F.col("end") + 1, F.lit(w)).alias("right_ctx"),
        )
    )
