"""The KG construction chain (segments → mentions → triples → canonical map → nodes/edges) and KG read queries.

Split from the original queries.py monolith (round-4 verdict item 6);
segment order preserved.  Registry: docs2kg_spark.queries (package
__init__ re-exports every name, driver contract unchanged).
"""
from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from docs2kg_spark.config import DEFAULT_GAZETTEER
from docs2kg_spark.functions.ids import WS_RE
from docs2kg_spark.oracle.sql_twins import (
    kg_canonical_map_sql,
    kg_edges_sql,
    kg_mentions_sql,
    kg_metadata_edges_sql,
    kg_nodes_sql,
    kg_segments_sql,
    kg_triples_sql,
    minhash_estimator_audit_sql,
    minhash_near_dup_sql,
)

from docs2kg_spark.queries._shared import _pkg_patchable
from docs2kg_spark.queries._shared import (
    TRANSCRIPTS_CTE,
    _POLARITY_LEXICON,
    _entity_graph_prefix,
    _kg_memo,
    _kg_stack,
    _t,
    derive_transcripts,
)



# ---------------------------------------------------------------------------
# KG pipeline queries over SQL-derived transcripts
# ---------------------------------------------------------------------------


def q_kg_segments(spark, sf_dir):
    from docs2kg_spark.operators.segments import segment_transcripts

    segs = _kg_memo(
        spark,
        sf_dir,
        "segments",
        lambda: segment_transcripts(derive_transcripts(spark, sf_dir)),
    )
    return segs.select("conv_id", "seg_id", "seg_idx", "turn_idx", "label", "text")


SQL_KG_SEGMENTS = (
    "SELECT conv_id, seg_id, seg_idx, turn_idx, label, text "
    f"FROM ({kg_segments_sql(TRANSCRIPTS_CTE)})"
)


def q_kg_turn_invariant(spark, sf_dir):
    """per-turn text equality under stable turn ordering, digested per
    conversation (the input_hint invariant, SQL-checkable)."""
    t = derive_transcripts(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t.withColumn("texts", F.concat_ws("\x1f", F.collect_list("text").over(w)))
        .groupBy("conv_id")
        .agg(F.md5(F.first("texts")).alias("digest"))
    )


SQL_KG_TURN_INVARIANT = f"""
WITH {TRANSCRIPTS_CTE}
SELECT conv_id, md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS digest
FROM transcripts GROUP BY conv_id
"""


def q_kg_conv_metadata_edges(spark, sf_dir):
    from docs2kg_spark.operators.graph import conversation_metadata_kg

    t = derive_transcripts(spark, sf_dir)
    _, edges = conversation_metadata_kg(t)
    return edges


SQL_KG_CONV_META_EDGES = kg_metadata_edges_sql(TRANSCRIPTS_CTE)


@_pkg_patchable
def q_kg_mentions(spark, sf_dir):
    _, m = _kg_stack(spark, sf_dir)
    return m


@_pkg_patchable
def q_kg_triples(spark, sf_dir):
    from docs2kg_spark.operators.mentions import extract_fused

    segs, _ = _kg_stack(spark, sf_dir)
    return _kg_memo(
        spark, sf_dir, "triples", lambda: extract_fused(segs, spark)[2]
    )


def q_kg_canonical_map(spark, sf_dir):
    from docs2kg_spark.operators.linking import build_canonical_map

    _, m = _kg_stack(spark, sf_dir)
    return _kg_memo(
        spark,
        sf_dir,
        "canonical_map",
        lambda: build_canonical_map(m, spark)[0],
    )


def q_kg_nodes(spark, sf_dir):
    from docs2kg_spark.operators.graph import materialize_kg

    segs, m = _kg_stack(spark, sf_dir)
    t = q_kg_triples(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)
    nodes, _ = materialize_kg(segs, m, t, cmap)
    return nodes.select("node_id", "canonical_id", "type")


def q_kg_edges(spark, sf_dir):
    from docs2kg_spark.operators.graph import materialize_kg

    segs, m = _kg_stack(spark, sf_dir)
    t = q_kg_triples(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)

    def build():
        _, edges = materialize_kg(segs, m, t, cmap)
        return edges.select("src", "dst", "type")

    # memoized like the rest of the chain: a consumer that references
    # the edge table twice (e.g. the degree histogram's src/dst union)
    # must not replay the layout-window subtree per reference
    return _kg_memo(spark, sf_dir, "edges", build)


# ---------------------------------------------------------------------------
# KG analytics round 3: entity timelines + predicate statistics
# (composed on the kg CTE chains)
# ---------------------------------------------------------------------------


def q_kg_entity_timeline(spark, sf_dir):
    """Per-canonical-entity lineage: first/last turn index, mention and
    conversation counts — the temporal-KG read after unification."""
    from docs2kg_spark.operators.profiling import entity_timeline

    return entity_timeline(
        q_kg_mentions(spark, sf_dir),
        q_kg_segments(spark, sf_dir),
        q_kg_canonical_map(spark, sf_dir),
    )


def _kg_entity_timeline_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
tl AS (
  SELECT c.canonical_id,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT m.conv_id) AS BIGINT) AS n_convs,
         CAST(min(s.seg_idx) AS INT) AS first_turn,
         CAST(max(s.seg_idx) AS INT) AS last_turn
  FROM mentions m
  JOIN segs s ON s.seg_id = m.seg_id
  JOIN cmap c ON c.text = m.text AND c.label = m.label
  GROUP BY 1
)
SELECT t.canonical_id, surv.text AS canonical_text,
       t.n_mentions, t.n_convs, t.first_turn, t.last_turn
FROM tl t JOIN cmap surv ON surv.node_id = t.canonical_id
"""


def q_kg_predicate_stats(spark, sf_dir):
    """Per-predicate KG summary: edge count + distinct subject/object/
    conversation counts — the graph-shape profile a KG consumer checks
    first (predicate skew drives every downstream join plan)."""
    t = q_kg_triples(spark, sf_dir)
    return t.groupBy("pred").agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.countDistinct("subj").cast("bigint").alias("n_subj"),
        F.countDistinct("obj").cast("bigint").alias("n_obj"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )


def _kg_predicate_stats_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)}
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_obj,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM triples GROUP BY 1
"""


def q_kg_comention_pmi(spark, sf_dir):
    """Conversation-level PMI between canonical entities — the
    statistical edge-weighting the raw co-occurrence triples lack."""
    from docs2kg_spark.operators.relations import comention_pmi

    return comention_pmi(
        q_kg_mentions(spark, sf_dir), q_kg_canonical_map(spark, sf_dir)
    )


def _kg_comention_pmi_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
cp_ce AS (
  SELECT DISTINCT m.conv_id, c.canonical_id AS ent
  FROM mentions m JOIN cmap c ON c.text = m.text AND c.label = m.label
),
cp_ec AS (SELECT ent, count(*) AS c FROM cp_ce GROUP BY 1),
cp_nt AS (SELECT CAST(count(DISTINCT conv_id) AS DOUBLE) AS n FROM cp_ce),
cp_pp AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b, count(*) AS n_co
  FROM cp_ce a JOIN cp_ce b ON a.conv_id = b.conv_id AND a.ent < b.ent
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT ent_a, ent_b, CAST(n_co AS BIGINT) AS n_co,
       ROUND(ln(CAST(n_co AS DOUBLE) * n / ca.c / cb.c), 6) AS pmi
FROM cp_pp JOIN cp_ec ca ON ca.ent = ent_a
           JOIN cp_ec cb ON cb.ent = ent_b
           CROSS JOIN cp_nt
"""


def q_kg_negative_samples(spark, sf_dir):
    """Deterministic corrupted-object negatives for KG-embedding
    training — one hash-drawn negative per distinct triple."""
    from docs2kg_spark.operators.relations import negative_triples

    return negative_triples(q_kg_triples(spark, sf_dir))


def _kg_negative_samples_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
ng_t AS (SELECT DISTINCT subj, pred, obj FROM triples),
ng_o AS (
  SELECT cand, CAST(row_number() OVER (ORDER BY cand) AS INT) AS idx
  FROM (SELECT DISTINCT obj AS cand FROM ng_t)
),
ng_n AS (SELECT CAST(max(idx) AS BIGINT) AS n_obj FROM ng_o),
ng_d AS (
  SELECT subj, pred, obj,
         CAST(CAST(('0x' || substr(md5(subj || '|' || pred || '|' || obj || '|neg-v1'), 1, 8)) AS UBIGINT) AS BIGINT)
           % n_obj + 1 AS idx
  FROM ng_t CROSS JOIN ng_n
)
SELECT d.subj, d.pred, d.obj,
       CASE WHEN o1.cand <> d.obj THEN o1.cand ELSE o2.cand END AS neg_obj
FROM ng_d d
CROSS JOIN ng_n
JOIN ng_o o1 ON o1.idx = d.idx
JOIN ng_o o2 ON o2.idx = d.idx % n_obj + 1
"""


# ---------------------------------------------------------------------------
# interval-overlap join (operators/asof.py — annotation alignment)
# ---------------------------------------------------------------------------


def q_mention_span_overlap(spark, sf_dir):
    """Align gazetteer spans with (offset-drifted) LLM-standin spans in
    the same segment by character-interval overlap — the annotation-
    agreement read; exercises the bucketized interval-blocking join."""
    from docs2kg_spark.operators.asof import span_overlap_join

    m = q_kg_mentions(spark, sf_dir)
    gaz = m.filter(F.col("method") == "gazetteer").select(
        "seg_id", "start", "end", "text", "label"
    )
    llm = m.filter(F.col("method") == "llm_standin").select(
        "seg_id", "start", "end", "text", "label"
    )
    return span_overlap_join(gaz, llm, key="seg_id", bucket=32)


def _mention_span_overlap_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import _kg_prefix

    return f"""
{_kg_prefix(TRANSCRIPTS_CTE)}
SELECT g.seg_id,
       g.start AS l_start, g."end" AS l_end, g.text AS l_text, g.label AS l_label,
       l.start AS r_start, l."end" AS r_end, l.text AS r_text, l.label AS r_label
FROM mentions g
JOIN mentions l
  ON g.seg_id = l.seg_id
 AND g.start < l."end" AND l.start < g."end"
WHERE g.method = 'gazetteer' AND l.method = 'llm_standin'
"""


def q_kg_cooc_window(spark, sf_dir):
    """Turn-windowed (±2) entity co-mention counts — the
    discourse-local association signal conversation-level PMI lacks
    (operators/relations.py::windowed_comention, bucketized equi-join
    over the range predicate)."""
    from docs2kg_spark.operators.relations import windowed_comention

    segs, m = _kg_stack(spark, sf_dir)
    return windowed_comention(m, segs, window=2)


def _kg_cooc_window_sql(window: int = 2) -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    # kg_canonical_ctes carries segs + mentions; the twin states the
    # SEMANTICS (plain range join) that the Spark side's bucketized
    # equi-join implements
    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
cw_occ AS (
  SELECT DISTINCT m.conv_id, s.seg_idx, m.label || ':' || m.text AS ent
  FROM mentions m JOIN segs s ON s.conv_id = m.conv_id AND s.seg_id = m.seg_id
),
cw_pairs AS (
  SELECT least(a.ent, b.ent) AS ent_a, greatest(a.ent, b.ent) AS ent_b
  FROM cw_occ a JOIN cw_occ b
    ON a.conv_id = b.conv_id
   AND b.seg_idx - a.seg_idx BETWEEN 0 AND {window}
   AND a.ent <> b.ent
   AND (b.seg_idx > a.seg_idx OR a.ent < b.ent)
)
SELECT ent_a, ent_b, CAST(COUNT(*) AS BIGINT) AS n_co
FROM cw_pairs GROUP BY ent_a, ent_b
"""


def q_kg_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of the materialized KG — the
    first profile a graph consumer reads (the bucket tail says whether
    hub-killer strategies like triangle orientation are needed).

    Scale shape: consumes the memoized KG edges (production reads the
    materialized table); degrees are one (node)-keyed agg over the
    src/dst union projection; the histogram is a second agg to
    O(log maxdeg) rows.  floor(log2(n)) on exact integer degrees is
    engine-stable (log2 of 2^k is exact in IEEE, so the floor can
    never straddle a bucket edge)."""
    e = q_kg_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy(F.floor(F.log2("degree")).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )


def _kg_degree_histogram_sql() -> str:
    return f"""
WITH edges AS ({kg_edges_sql(TRANSCRIPTS_CTE)}),
nd AS (
  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
),
dg AS (SELECT node, COUNT(*) AS degree FROM nd GROUP BY node)
SELECT CAST(FLOOR(log2(degree)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM dg GROUP BY 1
"""


def q_kg_conv_density(spark, sf_dir):
    """Per-conversation KG density profile: kept segments, mentions,
    triples, and DISTINCT canonical entities — the extraction-QA read
    that flags conversations where the pipeline produced nothing (or
    suspiciously much) before anyone trains on the graph.

    Scale shape: four conv-keyed thin aggregates over the memoized KG
    chain (production reads materialized tables), each reduced to
    |convs| rows BEFORE the joins — the joins never carry segment- or
    mention-grain rows; conversations with zero mentions survive via
    left joins from the segment-level conv universe (exact 0s, not
    dropped rows)."""
    segs = q_kg_segments(spark, sf_dir)
    m = q_kg_mentions(spark, sf_dir)
    t = q_kg_triples(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)

    base = segs.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_segments")
    )
    nm = m.groupBy("conv_id").agg(F.count("*").cast("bigint").alias("n_mentions"))
    nt = t.groupBy("conv_id").agg(F.count("*").cast("bigint").alias("n_triples"))
    ne = (
        m.join(
            F.broadcast(cmap.select("text", "label", "canonical_id")),
            ["text", "label"],
        )
        .groupBy("conv_id")
        .agg(F.countDistinct("canonical_id").cast("bigint").alias("n_entities"))
    )
    out = (
        base.join(nm, "conv_id", "left")
        .join(nt, "conv_id", "left")
        .join(ne, "conv_id", "left")
    )
    return out.select(
        "conv_id",
        "n_segments",
        F.coalesce("n_mentions", F.lit(0)).cast("bigint").alias("n_mentions"),
        F.coalesce("n_triples", F.lit(0)).cast("bigint").alias("n_triples"),
        F.coalesce("n_entities", F.lit(0)).cast("bigint").alias("n_entities"),
    )


def _kg_conv_density_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_full_ctes

    return f"""
{kg_full_ctes(TRANSCRIPTS_CTE)},
dbase AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_segments FROM segs GROUP BY 1),
dm AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_mentions FROM mentions GROUP BY 1),
dt AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_triples FROM triples GROUP BY 1),
de AS (
  SELECT m.conv_id, CAST(count(DISTINCT c.canonical_id) AS BIGINT) AS n_entities
  FROM mentions m JOIN cmap c ON c.text = m.text AND c.label = m.label
  GROUP BY 1
)
SELECT b.conv_id, b.n_segments,
       CAST(COALESCE(dm.n_mentions, 0) AS BIGINT) AS n_mentions,
       CAST(COALESCE(dt.n_triples, 0) AS BIGINT) AS n_triples,
       CAST(COALESCE(de.n_entities, 0) AS BIGINT) AS n_entities
FROM dbase b
LEFT JOIN dm USING (conv_id)
LEFT JOIN dt USING (conv_id)
LEFT JOIN de USING (conv_id)
"""


def q_kg_entity_aliases(spark, sf_dir):
    """Per-canonical-entity alias profile: how many distinct surface
    forms fold into each canonical entity, over how many mentions, and
    the lexicographically-first alias — the linking-QA read (an entity
    with suspiciously many surfaces means the LSH threshold is too
    loose; all singletons means it never fires).

    Scale shape: the canonical map is vocabulary-sized and broadcasts
    into the mention stream; the profile is ONE (canonical_id)-keyed
    agg with the distinct-surface count taken over (surface, label)
    pairs already reduced by the map join; min() gives a deterministic
    representative without any sort."""
    m = q_kg_mentions(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)
    return (
        m.join(
            F.broadcast(cmap.select("text", "label", "canonical_id")),
            ["text", "label"],
        )
        .groupBy("canonical_id")
        .agg(
            F.countDistinct("text", "label").cast("bigint").alias("n_surfaces"),
            F.count("*").cast("bigint").alias("n_mentions"),
            F.min("text").alias("first_alias"),
        )
    )


def _kg_entity_aliases_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)}
SELECT c.canonical_id,
       CAST(count(DISTINCT (m.text, m.label)) AS BIGINT) AS n_surfaces,
       CAST(count(*) AS BIGINT) AS n_mentions,
       min(m.text) AS first_alias
FROM mentions m JOIN cmap c ON c.text = m.text AND c.label = m.label
GROUP BY 1
"""


def q_mention_confidence_profile(spark, sf_dir):
    """Extraction-confidence profile of the mention table: per
    (method, label), mention volume, distinct surface count, and the
    mean confidence (integer-scaled cents — exact) — the calibration
    read for tuning per-method acceptance thresholds.

    Scale shape: one hash agg over the memoized mention stream to
    |methods × labels| rows."""
    m = q_kg_mentions(spark, sf_dir)
    return (
        m.groupBy("method", "label")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.countDistinct("text").cast("bigint").alias("n_surfaces"),
            F.sum(F.round(F.col("confidence") * 100).cast("bigint")).alias("_c2"),
        )
        .select(
            "method",
            "label",
            "n_mentions",
            "n_surfaces",
            F.round(
                F.col("_c2").cast("double") / 100 / F.col("n_mentions"), 6
            ).alias("mean_conf"),
        )
    )


def _mention_confidence_profile_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_mentions_sql

    return f"""
SELECT method, label,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_surfaces,
       ROUND(CAST(SUM(CAST(round(confidence * 100) AS BIGINT)) AS DOUBLE)
             / 100 / COUNT(*), 6) AS mean_conf
FROM ({kg_mentions_sql(TRANSCRIPTS_CTE)}) GROUP BY 1, 2
"""


def q_kg_edge_type_share(spark, sf_dir):
    """Edge-type mix of the materialized KG — the one-glance structure
    profile (layout vs mention vs relation edges) a graph consumer
    checks before sizing traversals.

    Scale shape: one hash agg over the memoized edge table to |types|
    rows plus a broadcast 1-row total."""
    e = q_kg_edges(spark, sf_dir)
    per = e.groupBy("type").agg(F.count("*").cast("bigint").alias("n_edges"))
    tot = per.agg(F.sum("n_edges").cast("bigint").alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "type",
        "n_edges",
        F.round(
            F.when(
                F.col("n_total") > 0,
                F.col("n_edges").cast("double") / F.col("n_total"),
            ),
            6,
        ).alias("share"),  # empty-graph guard, matches the twin's NULLIF
    )


def _kg_edge_type_share_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_edges_sql

    return f"""
WITH ets AS (SELECT type FROM ({kg_edges_sql(TRANSCRIPTS_CTE)}))
SELECT type, CAST(COUNT(*) AS BIGINT) AS n_edges,
       ROUND(CAST(COUNT(*) AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM ets), 0), 6) AS share
FROM ets GROUP BY 1
"""


def q_kg_entity_salience(spark, sf_dir):
    """Top-3 salient canonical entities per conversation: salience =
    n_mentions·10⁶ DIV (1 + first_turn) — frequency boosted by
    earliness, the ranking a summarizer or index-page builder reads
    off the KG.  Exact integer scoring (no float decides rank);
    deterministic tie-break on canonical_id.

    Scale shape: reuses the memoized mention/canonical chain; one
    (conv, entity) hash agg, a broadcast vocabulary join, and a
    per-conv top-3 window over already-reduced rows."""
    from pyspark.sql import Window

    m = q_kg_mentions(spark, sf_dir).select("conv_id", "seg_id", "text", "label")
    s = q_kg_segments(spark, sf_dir).select("seg_id", "seg_idx")
    cmap = q_kg_canonical_map(spark, sf_dir)
    c = F.broadcast(cmap.select("text", "label", "canonical_id"))
    agg = (
        m.join(s, "seg_id")
        .join(c, ["text", "label"])
        .groupBy("conv_id", "canonical_id")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.min("seg_idx").cast("int").alias("first_turn"),
        )
        .withColumn("sal6", F.expr("n_mentions * 1000000 DIV (1 + first_turn)"))
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("sal6").desc(), F.col("canonical_id")
    )
    surv = F.broadcast(
        cmap.filter(F.col("node_id") == F.col("canonical_id")).select(
            "canonical_id", F.col("text").alias("canonical_text")
        )
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .join(surv, "canonical_id")
        .select(
            "conv_id",
            F.col("rank").cast("int").alias("rank"),
            "canonical_id",
            "canonical_text",
            "n_mentions",
            "first_turn",
            F.round(F.col("sal6").cast("double") / 1e6, 6).alias("salience"),
        )
    )


def _kg_entity_salience_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
es_a AS (
  SELECT m.conv_id, c.canonical_id,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(min(s.seg_idx) AS INT) AS first_turn
  FROM mentions m
  JOIN segs s ON s.seg_id = m.seg_id
  JOIN cmap c ON c.text = m.text AND c.label = m.label
  GROUP BY 1, 2
),
es_r AS (
  SELECT *, (n_mentions * 1000000) // (1 + first_turn) AS sal6,
         ROW_NUMBER() OVER (
           PARTITION BY conv_id
           ORDER BY (n_mentions * 1000000) // (1 + first_turn) DESC, canonical_id
         ) AS rank
  FROM es_a
)
SELECT r.conv_id, CAST(r.rank AS INT) AS rank, r.canonical_id,
       surv.text AS canonical_text, r.n_mentions, r.first_turn,
       ROUND(CAST(r.sal6 AS DOUBLE) / 1e6, 6) AS salience
FROM es_r r JOIN cmap surv ON surv.node_id = r.canonical_id
WHERE r.rank <= 3
"""


def q_mention_fuzzy_aliases(spark, sf_dir):
    """Typo-distance alias discovery over the mention surface
    vocabulary: same-label surface pairs within Levenshtein distance 2
    (length ≥ 4, so short tokens don't fuzz together) — the
    fuzzy-match complement to the MinHash-token canonical map (which
    catches word-level variants, not character-level typos).

    Scale shape: the pair join runs on the DISTINCT (text, label)
    vocabulary — broadcast-sized by construction (the same argument as
    linking.py's driver fast path), never on the mention stream; the
    length-band predicate prunes before the edit-distance evaluates."""
    m = q_kg_mentions(spark, sf_dir)
    vocab = (
        m.select("text", "label").distinct()
        .filter(F.length("text") >= 4)
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a = vocab.selectExpr("text AS text_a", "label")
    b = vocab.selectExpr("text AS text_b", "label")
    return (
        a.join(F.broadcast(b), "label")
        .filter(F.col("text_a") < F.col("text_b"))
        .filter(F.abs(F.length("text_a") - F.length("text_b")) <= 2)
        .withColumn("dist", F.levenshtein("text_a", "text_b").cast("int"))
        .filter(F.col("dist") <= 2)
        .select("label", "text_a", "text_b", "dist")
    )


def _mention_fuzzy_aliases_sql() -> str:
    # kg_canonical_ctes carries the mentions CTE; the unreferenced cmap
    # CTEs are never evaluated (DuckDB executes CTEs on demand)
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
fa_v AS (
  SELECT DISTINCT text, label FROM mentions WHERE length(text) >= 4
)
SELECT a.label, a.text AS text_a, b.text AS text_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS dist
FROM fa_v a JOIN fa_v b ON a.label = b.label AND a.text < b.text
WHERE abs(length(a.text) - length(b.text)) <= 2
  AND levenshtein(a.text, b.text) <= 2
"""


def q_kg_ego_net(spark, sf_dir):
    """Ego network of the KG's top-degree hub: the hub (max degree,
    min node-id tie-break), every incident edge with direction and
    type, and each neighbor's own degree — the drill-down read a graph
    consumer runs after the degree histogram says "there is a hub".

    Scale shape: degrees are one (node) hash agg over the src/dst
    union; the hub is a TakeOrdered top-1 broadcast back as a join
    filter (never a driver collect in the dataflow); neighbor degrees
    join the already-reduced degree table."""
    e = q_kg_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").cast("bigint").alias("degree"))
    deg = deg.localCheckpoint(eager=False)  # hub top-1 + neighbor degrees
    hub = deg.orderBy(F.col("degree").desc(), "node").limit(1).select(
        F.col("node").alias("hub")
    )
    inc = (
        e.join(F.broadcast(hub), (e.src == F.col("hub")) | (e.dst == F.col("hub")))
        .selectExpr(
            "hub",
            "CASE WHEN src = hub THEN 'out' ELSE 'in' END AS direction",
            "CASE WHEN src = hub THEN dst ELSE src END AS neighbor",
            "type",
        )
    )
    return inc.join(
        deg.selectExpr("node AS neighbor", "degree AS neighbor_degree"), "neighbor"
    ).select("hub", "direction", "neighbor", "type", "neighbor_degree")


def _kg_ego_net_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_edges_sql

    return f"""
WITH en_e AS ({kg_edges_sql(TRANSCRIPTS_CTE)}),
en_nd AS (SELECT src AS node FROM en_e UNION ALL SELECT dst FROM en_e),
en_dg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM en_nd GROUP BY 1),
en_hub AS (SELECT node AS hub FROM en_dg ORDER BY degree DESC, node LIMIT 1),
en_inc AS (
  SELECT h.hub,
         CASE WHEN e.src = h.hub THEN 'out' ELSE 'in' END AS direction,
         CASE WHEN e.src = h.hub THEN e.dst ELSE e.src END AS neighbor,
         e.type
  FROM en_e e JOIN en_hub h ON e.src = h.hub OR e.dst = h.hub
)
SELECT i.hub, i.direction, i.neighbor, i.type, d.degree AS neighbor_degree
FROM en_inc i JOIN en_dg d ON d.node = i.neighbor
"""


def q_linking_method_venn(spark, sf_dir):
    """Method-agreement audit for ENTITY linking (the dedup_method_venn
    analog one level up): same-label surface pairs proposed by the
    MinHash canonical map (same cluster) vs by Levenshtein ≤ 2 — the
    overlap says whether char-level typos are already folded by the
    token-level linker or form a disjoint alias class.  One exact-count
    row: pairs-by-cmap, pairs-by-editdist, both, and the agreement
    Jaccard (one rounded division).

    Scale shape: both pair sets live on the surface VOCABULARY
    (broadcast-sized; the linking fast-path argument); the venn is a
    full-outer join of two thin pair tables."""
    cmap = q_kg_canonical_map(spark, sf_dir)
    v = cmap.filter(F.length("text") >= 4)
    cpairs = (
        v.alias("a")
        .join(v.alias("b"), F.col("a.canonical_id") == F.col("b.canonical_id"))
        .filter(
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.text") < F.col("b.text"))
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.text").alias("text_a"),
            F.col("b.text").alias("text_b"),
        )
        .distinct()
        .withColumn("by_cmap", F.lit(1))
    )
    lpairs = q_mention_fuzzy_aliases(spark, sf_dir).select(
        "label", "text_a", "text_b"
    ).withColumn("by_lev", F.lit(1))
    venn = cpairs.join(lpairs, ["label", "text_a", "text_b"], "full_outer")
    return venn.agg(
        F.sum(F.coalesce("by_cmap", F.lit(0))).cast("bigint").alias("n_cmap"),
        F.sum(F.coalesce("by_lev", F.lit(0))).cast("bigint").alias("n_lev"),
        F.sum(
            F.when(F.col("by_cmap").isNotNull() & F.col("by_lev").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_both"),
        F.count("*").cast("bigint").alias("n_union"),
    ).selectExpr(
        "n_cmap", "n_lev", "n_both", "n_union",
        "ROUND(CAST(n_both AS DOUBLE) / n_union, 6) AS agreement_jaccard",
    )


def _linking_method_venn_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
lv_v AS (SELECT text, label, canonical_id FROM cmap WHERE length(text) >= 4),
lv_c AS (
  SELECT DISTINCT a.label, a.text AS text_a, b.text AS text_b
  FROM lv_v a JOIN lv_v b
    ON a.canonical_id = b.canonical_id AND a.label = b.label AND a.text < b.text
),
lv_fv AS (SELECT DISTINCT text, label FROM mentions WHERE length(text) >= 4),
lv_l AS (
  SELECT a.label, a.text AS text_a, b.text AS text_b
  FROM lv_fv a JOIN lv_fv b ON a.label = b.label AND a.text < b.text
  WHERE abs(length(a.text) - length(b.text)) <= 2
    AND levenshtein(a.text, b.text) <= 2
),
lv_venn AS (
  SELECT coalesce(c.label, l.label) AS label,
         CASE WHEN c.text_a IS NOT NULL THEN 1 ELSE 0 END AS by_cmap,
         CASE WHEN l.text_a IS NOT NULL THEN 1 ELSE 0 END AS by_lev
  FROM lv_c c FULL OUTER JOIN lv_l l
    ON l.label = c.label AND l.text_a = c.text_a AND l.text_b = c.text_b
)
SELECT CAST(sum(by_cmap) AS BIGINT) AS n_cmap,
       CAST(sum(by_lev) AS BIGINT) AS n_lev,
       CAST(sum(CASE WHEN by_cmap = 1 AND by_lev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(count(*) AS BIGINT) AS n_union,
       ROUND(CAST(sum(CASE WHEN by_cmap = 1 AND by_lev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS agreement_jaccard
FROM lv_venn
"""


def q_kg_entity_first_seen_hist(spark, sf_dir):
    """When do NEW entities stop appearing in a conversation?  The
    histogram of each canonical entity's corpus-wide first turn index
    (from the entity timeline) — front-loaded mass says a KG built
    from conversation prefixes would already be nearly complete, the
    sampling-policy read.  Exact counts over the composed timeline.

    Scale shape: one (first_turn) hash agg over the already-reduced
    per-entity table."""
    tl = q_kg_entity_timeline(spark, sf_dir)
    return tl.groupBy(F.col("first_turn").alias("first_turn")).agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum("n_mentions").cast("bigint").alias("total_mentions"),
    )


def _kg_entity_first_seen_hist_sql() -> str:
    return f"""
WITH fs AS ({_kg_entity_timeline_sql()})
SELECT first_turn, CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(n_mentions) AS BIGINT) AS total_mentions
FROM fs GROUP BY 1
"""


def q_label_position_profile(spark, sf_dir):
    """Where in a conversation does each segment label live?  Per
    label: segment count, median and p90 of the turn position —
    the layout prior a chunking policy reads (CODE clustering late
    means tail-truncation drops code).  Percentiles interpolate over
    exact integer positions (quantile_cont parity).

    Scale shape: one per-label order-statistics agg over the memoized
    segment table."""
    s = q_kg_segments(spark, sf_dir)
    return s.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.round(F.expr("percentile(seg_idx, 0.5)"), 6).alias("med_pos"),
        F.round(F.expr("percentile(seg_idx, 0.9)"), 6).alias("p90_pos"),
    )


def _label_position_profile_sql() -> str:
    return f"""
WITH lp_s AS ({SQL_KG_SEGMENTS})
SELECT label, CAST(count(*) AS BIGINT) AS n_segments,
       ROUND(quantile_cont(seg_idx, 0.5), 6) AS med_pos,
       ROUND(quantile_cont(seg_idx, 0.9), 6) AS p90_pos
FROM lp_s GROUP BY 1
"""


def q_kg_label_cooc(spark, sf_dir):
    """Mention-LABEL co-occurrence within a segment: how often do two
    entity types share a turn (PERSON+ORG in one utterance ⇒ a
    relation candidate) — the type-level prior behind the
    entity-level kg_cooc_window.  Exact counts; unordered label pairs
    (least/greatest), same-label pairs counted when ≥ 2 distinct
    mentions share the segment.

    Scale shape: distinct (segment, label) first, then a seg-keyed
    self-join whose per-key fanout is ≤ |labels|; one pair agg."""
    m = q_kg_mentions(spark, sf_dir)
    sl = m.select("seg_id", "label").distinct().localCheckpoint(eager=False)
    pairs = (
        sl.alias("x")
        .join(sl.alias("y"), "seg_id")
        .filter(F.col("x.label") < F.col("y.label"))
        .selectExpr("x.label AS label_a", "y.label AS label_b")
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.count("*").cast("bigint").alias("n_segments")
    )


def _kg_label_cooc_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
lc_sl AS (SELECT DISTINCT seg_id, label FROM mentions)
SELECT x.label AS label_a, y.label AS label_b,
       CAST(count(*) AS BIGINT) AS n_segments
FROM lc_sl x JOIN lc_sl y ON x.seg_id = y.seg_id AND x.label < y.label
GROUP BY 1, 2
"""


def q_kg_yield_corr(spark, sf_dir):
    """Does a longer conversation yield proportionally more KG? Exact
    Pearson moments between per-conversation segment count and triple
    count (quality_length_corr's KG sibling): all five moments are
    BIGINT sums over the density profile; one float correlation at the
    end with a zero-variance guard.

    Scale shape: one 1-row moment agg over the memoized density
    table."""
    d = q_kg_conv_density(spark, sf_dir).selectExpr(
        "n_segments AS x", "n_triples AS y"
    )
    m = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.selectExpr(
        "n",
        "n * sxy - sx * sy AS cov_num",
        "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 "
        "THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / "
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) "
        "ELSE NULL END AS pearson",
    )


def _kg_yield_corr_sql() -> str:
    return f"""
WITH yc_d AS ({_kg_conv_density_sql()}),
yc_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_segments) AS BIGINT) AS sx,
         CAST(sum(n_triples) AS BIGINT) AS sy,
         CAST(sum(n_segments * n_triples) AS BIGINT) AS sxy,
         CAST(sum(n_segments * n_segments) AS BIGINT) AS sxx,
         CAST(sum(n_triples * n_triples) AS BIGINT) AS syy
  FROM yc_d
)
SELECT n, n * sxy - sx * sy AS cov_num,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
            ELSE NULL END AS pearson
FROM yc_m
"""


def q_kg_isolated_entity_share(spark, sf_dir):
    """KG connectivity QA per conversation: how many of a conv's
    distinct canonical entities appear in NO triple of that conv
    (mention extracted, relation never formed) — a high isolated share
    flags conversations whose graph is just a bag of nodes.  Exact
    set counts; one rounded share.

    Scale shape: two conv-keyed distinct reductions (entities from
    mentions via the broadcast canonical map; endpoints from triples)
    and a left-anti-style join before the per-conv agg."""
    m = q_kg_mentions(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)
    ents = (
        m.join(F.broadcast(cmap.select("text", "label", "canonical_id")), ["text", "label"])
        .select("conv_id", "canonical_id")
        .distinct()
    )
    t = q_kg_triples(spark, sf_dir)
    cm = F.broadcast(cmap.select("text", "label", "canonical_id"))
    used = (
        t.selectExpr("conv_id", "subj AS text", "subj_label AS label")
        .unionByName(t.selectExpr("conv_id", "obj AS text", "obj_label AS label"))
        .join(cm, ["text", "label"])
        .select("conv_id", "canonical_id")
        .distinct()
    )
    flagged = ents.join(used.withColumn("in_triple", F.lit(1)), ["conv_id", "canonical_id"], "left")
    return (
        flagged.groupBy("conv_id")
        .agg(
            F.count("*").cast("bigint").alias("n_entities"),
            F.sum(F.when(F.col("in_triple").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_isolated"),
        )
        .selectExpr(
            "conv_id", "n_entities", "n_isolated",
            "ROUND(CAST(n_isolated AS DOUBLE) / n_entities, 6) AS isolated_share",
        )
    )


def _kg_isolated_entity_share_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_full_ctes

    return f"""
{kg_full_ctes(TRANSCRIPTS_CTE)},
ie_ent AS (
  SELECT DISTINCT m.conv_id, c.canonical_id
  FROM mentions m JOIN cmap c ON c.text = m.text AND c.label = m.label
),
ie_sub AS (
  SELECT t.conv_id, cs.canonical_id
  FROM triples t JOIN cmap cs ON cs.text = t.subj AND cs.label = t.subj_label
),
ie_obj AS (
  SELECT t.conv_id, co.canonical_id
  FROM triples t JOIN cmap co ON co.text = t.obj AND co.label = t.obj_label
),
ie_used AS (
  SELECT DISTINCT conv_id, canonical_id
  FROM (SELECT * FROM ie_sub UNION ALL SELECT * FROM ie_obj)
)
SELECT e.conv_id, CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(CASE WHEN u.canonical_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated,
       ROUND(CAST(sum(CASE WHEN u.canonical_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS isolated_share
FROM ie_ent e
LEFT JOIN ie_used u ON u.conv_id = e.conv_id AND u.canonical_id = e.canonical_id
GROUP BY 1
"""


def q_mention_density_by_label(spark, sf_dir):
    """Extraction density per entity label: mentions per 1000 segment
    tokens (integer-scaled DIV), with segment and mention counts — the
    extractor-health read (a label whose density collapses after a
    prompt change is a regression).

    Scale shape: token counts are row-local on the memoized segments;
    mentions reduce per label; one small join of two thin aggregates
    against the 1-row token total."""
    segs = q_kg_segments(spark, sf_dir)
    toks = segs.agg(
        F.sum(
            F.size(F.expr("filter(split(text, '[ \\t\\n\\r]+'), x -> x != '')"))
        ).cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_segments"),
    )
    m = q_kg_mentions(spark, sf_dir)
    per_label = m.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_mentions")
    )
    return (
        per_label.crossJoin(F.broadcast(toks))
        .selectExpr(
            "label", "n_mentions", "n_segments", "n_tokens",
            "n_mentions * 1000 DIV n_tokens AS per_1k_tokens",
        )
    )


def _mention_density_by_label_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
md_t AS (
  SELECT CAST(sum(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_segments
  FROM segs
),
md_m AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_mentions FROM mentions GROUP BY 1
)
SELECT m.label, m.n_mentions, t.n_segments, t.n_tokens,
       m.n_mentions * 1000 // t.n_tokens AS per_1k_tokens
FROM md_m m CROSS JOIN md_t t
"""


def q_kg_conv_graph_density(spark, sf_dir):
    """Per-conversation entity-graph density: distinct co-occurrence
    pairs over C(n_entities, 2) — 1.0 means every entity pair
    connected (relation extraction saturated), near-0 means a sparse
    thread.  Exact integers with the density as num/den BIGINT columns
    plus one rounded division; conversations with < 2 entities are
    excluded (den 0).

    Scale shape: two conv-keyed distinct reductions over the memoized
    chain; no pair materialization beyond the already-thin distinct
    (subj, obj) projection."""
    t = q_kg_triples(spark, sf_dir)
    cmap = q_kg_canonical_map(spark, sf_dir)
    cm = F.broadcast(cmap.select("text", "label", "canonical_id"))
    ents = (
        q_kg_mentions(spark, sf_dir)
        .join(cm, ["text", "label"])
        .select("conv_id", "canonical_id")
        .distinct()
        .groupBy("conv_id")
        .agg(F.count("*").cast("bigint").alias("n_entities"))
    )
    pairs = (
        t.join(
            cm.selectExpr("text AS subj", "label AS subj_label", "canonical_id AS ca"),
            ["subj", "subj_label"],
        )
        .join(
            cm.selectExpr("text AS obj", "label AS obj_label", "canonical_id AS cb"),
            ["obj", "obj_label"],
        )
        .filter(F.col("ca") != F.col("cb"))
        .selectExpr("conv_id", "least(ca, cb) AS a", "greatest(ca, cb) AS b")
        .distinct()
        .groupBy("conv_id")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    return (
        ents.join(pairs, "conv_id", "left")
        .filter("n_entities >= 2")
        .selectExpr(
            "conv_id",
            "n_entities",
            "CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs",
            "n_entities * (n_entities - 1) DIV 2 AS n_possible",
            "ROUND(CAST(coalesce(n_pairs, 0) AS DOUBLE) / (n_entities * (n_entities - 1) DIV 2), 6) AS density",
        )
    )


def _kg_conv_graph_density_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_full_ctes

    return f"""
{kg_full_ctes(TRANSCRIPTS_CTE)},
cg_e AS (
  SELECT m.conv_id, CAST(count(DISTINCT c.canonical_id) AS BIGINT) AS n_entities
  FROM mentions m JOIN cmap c ON c.text = m.text AND c.label = m.label
  GROUP BY 1
),
cg_p AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_pairs FROM (
    SELECT DISTINCT t.conv_id,
           least(cs.canonical_id, co.canonical_id) AS a,
           greatest(cs.canonical_id, co.canonical_id) AS b
    FROM triples t
    JOIN cmap cs ON cs.text = t.subj AND cs.label = t.subj_label
    JOIN cmap co ON co.text = t.obj AND co.label = t.obj_label
    WHERE cs.canonical_id != co.canonical_id
  ) GROUP BY 1
)
SELECT e.conv_id, e.n_entities,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       e.n_entities * (e.n_entities - 1) // 2 AS n_possible,
       ROUND(CAST(coalesce(p.n_pairs, 0) AS DOUBLE)
             / (e.n_entities * (e.n_entities - 1) // 2), 6) AS density
FROM cg_e e LEFT JOIN cg_p p USING (conv_id)
WHERE e.n_entities >= 2
"""


def q_contrastive_triplets(spark, sf_dir):
    """Deterministic contrastive-training triplet assembly: every 10th
    doc anchors a (anchor, positive, negative) example — positive =
    the hash-nearest OTHER doc in the same language, negative = the
    hash-nearest doc in a different language — the SFT/embedding
    training-pair generator, reproducible across runs (md5 order, no
    RNG).

    Scale shape: candidates reduce per (anchor-bucket, lang) via
    min-hash-key aggregations — the positive pick is one lang-keyed
    min-struct agg joined back, never an all-pairs join; the negative
    pick reuses one global-by-lang ranking of hash keys."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    hkey = F.md5(F.concat_ws("|", F.lit("ctr-v1"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", "lang", hkey.alias("hk")).localCheckpoint(eager=False)
    anchors = keyed.filter(F.col("doc_id") % 10 == 0).selectExpr(
        "doc_id AS anchor", "lang AS a_lang", "hk AS a_hk"
    )
    # positive: min hash key within the anchor's language, excluding self —
    # take the two smallest per lang so every anchor (even the min-key
    # holder) has a distinct candidate
    from pyspark.sql import Window

    wl = Window.partitionBy("lang").orderBy("hk", "doc_id")
    top2 = (
        keyed.withColumn("r", F.row_number().over(wl))
        .filter("r <= 2")
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("r") == 1, F.col("doc_id"))).alias("p1"),
            F.min(F.when(F.col("r") == 2, F.col("doc_id"))).alias("p2"),
        )
    )
    # negative: the globally hash-smallest doc of each OTHER language;
    # pick the smallest-keyed language != anchor's
    lang_min = (
        keyed.withColumn("r", F.row_number().over(wl))
        .filter("r = 1")
        .selectExpr("lang AS n_lang", "doc_id AS n_doc", "hk AS n_hk")
    )
    wneg = Window.partitionBy("anchor").orderBy("n_hk", "n_lang")
    neg = (
        anchors.join(F.broadcast(lang_min), F.col("a_lang") != F.col("n_lang"))
        .withColumn("r", F.row_number().over(wneg))
        .filter("r = 1")
        .selectExpr("anchor", "n_doc AS negative")
    )
    return (
        anchors.join(F.broadcast(top2), anchors.a_lang == top2.lang)
        .selectExpr(
            "anchor",
            "CASE WHEN p1 = anchor THEN p2 ELSE p1 END AS positive",
        )
        .join(neg, "anchor")
        .filter(F.col("positive").isNotNull())
        .select(
            F.col("anchor").cast("long"),
            F.col("positive").cast("long"),
            F.col("negative").cast("long"),
        )
    )


SQL_CONTRASTIVE_TRIPLETS = """
WITH ct_k AS (
  SELECT doc_id, lang, md5('ctr-v1' || '|' || CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
),
ct_r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS r FROM ct_k
),
ct_top2 AS (
  SELECT lang,
         min(CASE WHEN r = 1 THEN doc_id END) AS p1,
         min(CASE WHEN r = 2 THEN doc_id END) AS p2
  FROM ct_r WHERE r <= 2 GROUP BY 1
),
ct_lmin AS (SELECT lang AS n_lang, doc_id AS n_doc, hk AS n_hk FROM ct_r WHERE r = 1),
ct_a AS (SELECT doc_id AS anchor, lang AS a_lang FROM ct_k WHERE doc_id % 10 = 0),
ct_neg AS (
  SELECT anchor, n_doc AS negative FROM (
    SELECT a.anchor, l.n_doc,
           ROW_NUMBER() OVER (PARTITION BY a.anchor ORDER BY l.n_hk, l.n_lang) AS r
    FROM ct_a a JOIN ct_lmin l ON l.n_lang != a.a_lang
  ) WHERE r = 1
)
SELECT CAST(a.anchor AS BIGINT) AS anchor,
       CAST(CASE WHEN t.p1 = a.anchor THEN t.p2 ELSE t.p1 END AS BIGINT) AS positive,
       CAST(n.negative AS BIGINT) AS negative
FROM ct_a a
JOIN ct_top2 t ON t.lang = a.a_lang
JOIN ct_neg n ON n.anchor = a.anchor
WHERE (CASE WHEN t.p1 = a.anchor THEN t.p2 ELSE t.p1 END) IS NOT NULL
"""


_EMB_DIM = 64
_EMB_Q = 10_000  # quantization scale; n*S stays < 2^63 for n ≤ ~3.6e8 rows


_METAPATH_MID_CAP = 256


def q_kg_metapath_counts(spark, sf_dir):
    """2-hop metapath census over the canonicalized triple graph:
    counts of (subj_label)-[p1]->(mid_label)-[p2]->(obj_label) chains
    — the schema-level connectivity read KG consumers use to pick
    traversal plans and to spot ontology drift (a metapath that
    appears between rounds means the extractor started linking two
    types it never linked before).

    Mid nodes with total degree > _METAPATH_MID_CAP on the DISTINCT
    edge table are excluded (counted hubs would otherwise contribute
    deg_in·deg_out pairs each — the exact quadratic blowup a hub cap
    exists to stop); the cap is applied identically in the twin so the
    census stays value-exact.

    Scale shape: the 2-hop join runs on the DISTINCT canonical edge
    table (far smaller than raw triples), keyed on the mid canonical
    id after the degree filter — an equi-join whose per-key fanout is
    bounded by cap², then one hash agg to at most |labels|²·|preds|²
    rows."""
    t = q_kg_triples(spark, sf_dir)
    cm = q_kg_canonical_map(spark, sf_dir)
    e = (
        t.join(
            cm.selectExpr("text AS subj", "label AS subj_label", "canonical_id AS ca"),
            ["subj", "subj_label"],
        )
        .join(
            cm.selectExpr("text AS obj", "label AS obj_label", "canonical_id AS cb"),
            ["obj", "obj_label"],
        )
        .filter(F.col("ca") != F.col("cb"))
        .select("ca", "subj_label", "pred", "cb", "obj_label")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.selectExpr("ca AS node").unionAll(e.selectExpr("cb AS node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") <= _METAPATH_MID_CAP)
        .select("node")
    )
    lhs = e.join(deg, e.cb == deg.node).select(
        F.col("subj_label").alias("src_label"),
        F.col("pred").alias("p1"),
        F.col("cb").alias("mid"),
        F.col("obj_label").alias("mid_label"),
    )
    rhs = e.selectExpr(
        "ca AS mid", "subj_label AS mid_label2", "pred AS p2", "obj_label AS dst_label"
    )
    return (
        lhs.join(rhs, "mid")
        .filter(F.col("mid_label") == F.col("mid_label2"))
        .groupBy("src_label", "p1", "mid_label", "p2", "dst_label")
        .agg(
            F.count("*").cast("bigint").alias("n_paths"),
            F.countDistinct("mid").cast("bigint").alias("n_mids"),
        )
    )


def _kg_metapath_counts_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_full_ctes

    return f"""
{kg_full_ctes(TRANSCRIPTS_CTE)},
mp_e AS (
  SELECT DISTINCT cs.canonical_id AS ca, t.subj_label, t.pred,
         co.canonical_id AS cb, t.obj_label
  FROM triples t
  JOIN cmap cs ON cs.text = t.subj AND cs.label = t.subj_label
  JOIN cmap co ON co.text = t.obj AND co.label = t.obj_label
  WHERE cs.canonical_id != co.canonical_id
),
mp_deg AS (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT ca AS node FROM mp_e UNION ALL SELECT cb AS node FROM mp_e
    ) GROUP BY 1
  ) WHERE deg <= {_METAPATH_MID_CAP}
)
SELECT a.subj_label AS src_label, a.pred AS p1, a.obj_label AS mid_label,
       b.pred AS p2, b.obj_label AS dst_label,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT a.cb) AS BIGINT) AS n_mids
FROM mp_e a
JOIN mp_deg d ON d.node = a.cb
JOIN mp_e b ON b.ca = a.cb AND b.subj_label = a.obj_label
GROUP BY 1, 2, 3, 4, 5
"""


def q_kg_ontology_coverage(spark, sf_dir):
    """Ontology domain/range coverage audit over the emitted triples:
    per (subj_label, pred, obj_label) pattern, whether the pattern is a
    declared ontology connection, the REVERSE of one (a RELATES_TO
    fallback whose flipped endpoints ARE declared — i.e. the extractor
    ordered the pair against the schema's direction, the first thing an
    ontology curator fixes), or a plain fallback — Docs2KG's
    ontology-guided construction turned into a conformance report.

    Scale shape: one pattern-grain hash agg over the memoized triples
    (≤ |labels|²·|preds| rows), then a broadcast left join against the
    5-row connections table."""
    from docs2kg_spark.config import DEFAULT_ONTOLOGY

    t = q_kg_triples(spark, sf_dir)
    pat = t.groupBy("subj_label", "pred", "obj_label").agg(
        F.count("*").cast("bigint").alias("n_triples"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )
    rev = (
        spark.createDataFrame(
            [(s, d) for _, s, d in DEFAULT_ONTOLOGY.connections],
            "csrc string, cdst string",
        )
        .distinct()
    )
    return (
        pat.join(
            F.broadcast(rev),
            (F.col("csrc") == F.col("obj_label"))
            & (F.col("cdst") == F.col("subj_label")),
            "left",
        )
        .select(
            "subj_label",
            "pred",
            "obj_label",
            F.when(F.col("pred") != "RELATES_TO", "declared")
            .when(F.col("csrc").isNotNull(), "reverse_declared")
            .otherwise("fallback")
            .alias("status"),
            "n_triples",
            "n_convs",
        )
    )


def _kg_ontology_coverage_sql() -> str:
    from docs2kg_spark.config import DEFAULT_ONTOLOGY
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    vals = ", ".join(
        f"('{s}', '{d}')" for _, s, d in DEFAULT_ONTOLOGY.connections
    )
    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
oc_pat AS (
  SELECT subj_label, pred, obj_label,
         CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM triples GROUP BY 1, 2, 3
),
oc_conn(csrc, cdst) AS (VALUES {vals}),
oc_rev AS (SELECT DISTINCT csrc, cdst FROM oc_conn)
SELECT p.subj_label, p.pred, p.obj_label,
       CASE WHEN p.pred != 'RELATES_TO' THEN 'declared'
            WHEN r.csrc IS NOT NULL THEN 'reverse_declared'
            ELSE 'fallback' END AS status,
       p.n_triples, p.n_convs
FROM oc_pat p
LEFT JOIN oc_rev r ON r.csrc = p.obj_label AND r.cdst = p.subj_label
"""


def q_mention_polarity(spark, sf_dir):
    """Entity-mention polarity enrichment: for each (mention surface,
    label), the summed lexicon polarity of the segments it appears in —
    the sentiment-edge weighting a KG consumer wants next to raw
    co-occurrence (which entities show up in complaint contexts vs
    praise contexts).  Fixed integer lexicon, identical in the twin.

    Scale shape: segment tokens explode once and semi-join the 20-row
    broadcast lexicon immediately (everything downstream is lexicon
    hits only); one seg-grain agg, one mention-keyed join, one
    (text, label) hash agg."""
    lex = spark.createDataFrame(
        list(_POLARITY_LEXICON), "word string, score int"
    )
    segs, m = _kg_stack(spark, sf_dir)
    seg_pol = (
        segs.select(
            "seg_id",
            F.explode(F.split(F.lower(F.col("text")), WS_RE)).alias("rawtok"),
        )
        .select(
            "seg_id",
            F.regexp_replace("rawtok", r"^[^a-z0-9]+|[^a-z0-9]+$", "").alias("tok"),
        )
        .join(F.broadcast(lex), F.col("tok") == F.col("word"))
        .groupBy("seg_id")
        .agg(F.sum("score").cast("bigint").alias("pol"))
    )
    return (
        m.select("seg_id", "text", "label")
        .join(seg_pol, "seg_id", "left")
        .groupBy("text", "label")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.countDistinct("seg_id").cast("bigint").alias("n_segs"),
            F.sum(F.coalesce("pol", F.lit(0))).cast("bigint").alias("pol_sum"),
        )
        .selectExpr(
            "text", "label", "n_mentions", "n_segs", "pol_sum",
            "pol_sum * 1000 DIV n_mentions AS pol_milli",
        )
    )


def _mention_polarity_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    vals = ", ".join(f"('{w}', {s})" for w, s in _POLARITY_LEXICON)
    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
mp_lex(word, score) AS (VALUES {vals}),
mp_tok AS (
  SELECT seg_id,
         regexp_replace(t.tok, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') AS tok
  FROM segs, unnest(regexp_split_to_array(lower(segs.text), '[ \\t\\n\\r\\f\\x0B]+')) t(tok)
),
mp_seg AS (
  SELECT seg_id, CAST(sum(l.score) AS BIGINT) AS pol
  FROM mp_tok k JOIN mp_lex l ON l.word = k.tok GROUP BY 1
)
SELECT m.text, m.label,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT m.seg_id) AS BIGINT) AS n_segs,
       CAST(sum(COALESCE(s.pol, 0)) AS BIGINT) AS pol_sum,
       CAST(sum(COALESCE(s.pol, 0)) AS BIGINT) * 1000
         // CAST(count(*) AS BIGINT) AS pol_milli
FROM mentions m LEFT JOIN mp_seg s ON s.seg_id = m.seg_id
GROUP BY 1, 2
"""


def q_mention_ambiguity(spark, sf_dir):
    """Surface-form ambiguity census: every mention surface that
    carries MORE than one entity label, with its label inventory — the
    disambiguation workload estimate (every ambiguous surface needs a
    context signal before linking; 'mercury' the Tool vs the Project
    Code is this corpus's built-in example).

    Scale shape: one (text) hash agg over the memoized mentions with a
    bounded collect_set (|labels| ≤ ontology size)."""
    _, m = _kg_stack(spark, sf_dir)
    return (
        m.groupBy("text")
        .agg(
            F.countDistinct("label").cast("bigint").alias("n_labels"),
            F.count("*").cast("bigint").alias("n_mentions"),
            F.array_join(F.array_sort(F.collect_set("label")), "|").alias("labels"),
        )
        .filter(F.col("n_labels") >= 2)
    )


def _mention_ambiguity_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)}
SELECT text,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       CAST(count(*) AS BIGINT) AS n_mentions,
       string_agg(DISTINCT label, '|' ORDER BY label) AS labels
FROM mentions GROUP BY 1 HAVING count(DISTINCT label) >= 2
"""


def q_kg_pred_pattern_entropy(spark, sf_dir):
    """Predicate schema-tightness: per predicate, how many distinct
    (subj_label, obj_label) patterns it connects and the entropy of
    that pattern distribution — a tight predicate (one pattern, H≈0)
    is schema-backed; a high-entropy one is a catch-all that should be
    split in the next ontology revision.  H = ln N − (Σ n·ln n)/N with
    ln pre-scaled to BIGINT micro-units (the repo's cross-engine
    convention).

    Scale shape: one (pred, pattern) hash agg over memoized triples,
    then a per-pred rollup — both bounded by |labels|²·|preds|."""
    t = q_kg_triples(spark, sf_dir)
    pat = t.groupBy(
        "pred", "subj_label", "obj_label"
    ).agg(F.count("*").cast("bigint").alias("n"))
    lnln = F.expr("CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)")
    per = pat.select("pred", "n", (F.col("n") * lnln).alias("nln"))
    return (
        per.groupBy("pred")
        .agg(
            F.count("*").cast("bigint").alias("n_patterns"),
            F.sum("n").cast("bigint").alias("n_triples"),
            F.sum("nln").alias("sum_nln"),
        )
        .selectExpr(
            "pred",
            "n_patterns",
            "n_triples",
            "CAST(ROUND(ln(CAST(n_triples AS DOUBLE)) * 1000000) AS BIGINT)"
            " - sum_nln DIV n_triples AS entropy_micro",
        )
    )


def _kg_pred_pattern_entropy_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
pe_pat AS (
  SELECT pred, subj_label, obj_label, CAST(count(*) AS BIGINT) AS n
  FROM triples GROUP BY 1, 2, 3
),
pe_nln AS (
  SELECT pred, n,
         n * CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS nln
  FROM pe_pat
)
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_patterns,
       CAST(sum(n) AS BIGINT) AS n_triples,
       CAST(ROUND(ln(CAST(sum(n) AS DOUBLE)) * 1000000) AS BIGINT)
         - CAST(sum(nln) AS BIGINT) // CAST(sum(n) AS BIGINT) AS entropy_micro
FROM pe_nln GROUP BY 1
"""


def q_kg_alias_edit_profile(spark, sf_dir):
    """Linking-QA: within each multi-surface canonical entity, the
    levenshtein distance from every alias to the canonical surface —
    near-zero distances mean the linker is merging typo variants
    (good); large ones mean it's merging on shingle overlap alone
    (inspect).  Per-cluster integer stats.

    Scale shape: cmap self-join keyed on canonical_id (clusters are
    small — same bound as the dedup-cluster reads); levenshtein is
    row-local on short surfaces; one cluster agg."""
    cm = q_kg_canonical_map(spark, sf_dir)
    surv = cm.filter(F.col("node_id") == F.col("canonical_id")).selectExpr(
        "canonical_id", "text AS canon_text"
    )
    members = cm.filter(F.col("node_id") != F.col("canonical_id")).selectExpr(
        "canonical_id", "text AS alias_text"
    )
    d = F.levenshtein("alias_text", "canon_text")
    return (
        members.join(surv, "canonical_id")
        .select("canonical_id", "canon_text", d.alias("dist"))
        .groupBy("canonical_id", "canon_text")
        .agg(
            F.count("*").cast("bigint").alias("n_aliases"),
            F.min("dist").cast("bigint").alias("min_dist"),
            F.max("dist").cast("bigint").alias("max_dist"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
    )


def _kg_alias_edit_profile_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
ae_s AS (
  SELECT canonical_id, text AS canon_text FROM cmap WHERE node_id = canonical_id
),
ae_m AS (
  SELECT canonical_id, text AS alias_text FROM cmap WHERE node_id != canonical_id
)
SELECT m.canonical_id, s.canon_text,
       CAST(count(*) AS BIGINT) AS n_aliases,
       CAST(min(levenshtein(m.alias_text, s.canon_text)) AS BIGINT) AS min_dist,
       CAST(max(levenshtein(m.alias_text, s.canon_text)) AS BIGINT) AS max_dist,
       CAST(sum(levenshtein(m.alias_text, s.canon_text)) AS BIGINT) AS sum_dist
FROM ae_m m JOIN ae_s s USING (canonical_id)
GROUP BY 1, 2
"""


def q_kg_node_type_mix(spark, sf_dir):
    """Census of the materialized KG node table: per node type, node
    count and distinct canonical targets — the one-glance shape check
    (entity share vs structural scaffolding) run after every
    materialization.

    Scale shape: one hash agg over the memoized node table."""
    nodes = q_kg_nodes(spark, sf_dir)
    return nodes.groupBy("type").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.countDistinct("canonical_id").cast("bigint").alias("n_canonical"),
    )


def _kg_node_type_mix_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_nodes_sql

    return f"""
WITH ntm AS ({kg_nodes_sql(TRANSCRIPTS_CTE)})
SELECT type,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_canonical
FROM ntm GROUP BY 1
"""


def q_kg_walk_pairs(spark, sf_dir):
    """Deterministic 2-step random-walk context pairs over the entity
    graph — the node2vec/DeepWalk training-pair generator with the
    randomness replaced by per-step hash argmins (next hop = the
    neighbor minimizing md5(salt|cur|nbr)), so the pair corpus is
    byte-reproducible across runs and engines.  Emits (anchor,
    context, hop) for hop 1 and 2.

    Scale shape: each step is one per-node argmin aggregate over the
    undirected edge list (min_by on a row-local hash key — no window,
    no shuffle beyond the node key), then an equi-join chains step 2;
    longer walks are the same join repeated."""
    from docs2kg_spark.operators.graphq import undirect

    t = q_kg_triples(spark, sf_dir)
    e = undirect(
        t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))

    def step(salt):
        key = F.md5(F.concat_ws("|", F.lit(salt), "src", "dst"))
        return e.groupBy("src").agg(
            F.min_by("dst", key).alias("nxt")
        )

    s1 = step("walk-s1")
    s2 = step("walk-s2")
    hop1 = s1.selectExpr("src AS anchor", "nxt AS context", "CAST(1 AS INT) AS hop")
    hop2 = (
        s1.join(s2.selectExpr("src AS nxt", "nxt AS nxt2"), "nxt")
        .filter(F.col("src") != F.col("nxt2"))
        .selectExpr("src AS anchor", "nxt2 AS context", "CAST(2 AS INT) AS hop")
    )
    return hop1.unionByName(hop2)


def _kg_walk_pairs_sql() -> str:
    return (
        _entity_graph_prefix()
        + """,
wk_und AS (
  SELECT src, dst FROM (
    SELECT src, dst FROM eg_e UNION SELECT dst, src FROM eg_e
  ) WHERE src <> dst
),
wk_s1 AS (
  SELECT src, min_by(dst, md5('walk-s1' || '|' || src || '|' || dst)) AS nxt
  FROM wk_und GROUP BY 1
),
wk_s2 AS (
  SELECT src, min_by(dst, md5('walk-s2' || '|' || src || '|' || dst)) AS nxt
  FROM wk_und GROUP BY 1
)
SELECT src AS anchor, nxt AS context, CAST(1 AS INT) AS hop FROM wk_s1
UNION ALL
SELECT a.src AS anchor, b.nxt AS context, CAST(2 AS INT) AS hop
FROM wk_s1 a JOIN wk_s2 b ON b.src = a.nxt
WHERE a.src != b.nxt
"""
    )


def q_kg_entity_cluster_sizes(spark, sf_dir):
    """Canonicalization impact histogram: how many canonical entities
    merged 1, 2, 3… surface forms — the linking analog of
    dedup_cluster_sizes (singleton share = surfaces linking touched
    nothing; the tail = alias families).

    Scale shape: two stacked hash aggs on the memoized canonical
    map."""
    cm = q_kg_canonical_map(spark, sf_dir)
    return (
        cm.groupBy("canonical_id")
        .agg(F.count("*").cast("bigint").alias("sz"))
        .groupBy("sz")
        .agg(F.count("*").cast("bigint").alias("n_entities"))
        .selectExpr("CAST(sz AS BIGINT) AS cluster_size", "n_entities")
    )


def _kg_entity_cluster_sizes_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_canonical_ctes

    return f"""
{kg_canonical_ctes(TRANSCRIPTS_CTE)},
ec_sz AS (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz FROM cmap GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_entities
FROM ec_sz GROUP BY 1
"""


def q_kg_edge_weight_hist(spark, sf_dir):
    """Edge-weight distribution of the canonical co-occurrence graph:
    log2 bands of per-pair co-occurrence counts — the thresholding
    read before pruning weak edges (1-count edges are usually noise;
    the heavy tail is the backbone).

    Scale shape: canonical pair agg (the comention shape) → ≤64-row
    band histogram."""
    t = q_kg_triples(spark, sf_dir)
    cm = q_kg_canonical_map(spark, sf_dir)
    pairs = (
        t.join(
            cm.selectExpr("text AS subj", "label AS subj_label", "canonical_id AS ca"),
            ["subj", "subj_label"],
        )
        .join(
            cm.selectExpr("text AS obj", "label AS obj_label", "canonical_id AS cb"),
            ["obj", "obj_label"],
        )
        .filter(F.col("ca") != F.col("cb"))
        .selectExpr("least(ca, cb) AS a", "greatest(ca, cb) AS b")
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    return (
        pairs.groupBy(F.expr("CAST(floor(log2(w)) AS INT)").alias("weight_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.min("w").cast("bigint").alias("min_w"),
            F.max("w").cast("bigint").alias("max_w"),
        )
    )


def _kg_edge_weight_hist_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_full_ctes

    return f"""
{kg_full_ctes(TRANSCRIPTS_CTE)},
ew_p AS (
  SELECT least(cs.canonical_id, co.canonical_id) AS a,
         greatest(cs.canonical_id, co.canonical_id) AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM triples t
  JOIN cmap cs ON cs.text = t.subj AND cs.label = t.subj_label
  JOIN cmap co ON co.text = t.obj AND co.label = t.obj_label
  WHERE cs.canonical_id != co.canonical_id
  GROUP BY 1, 2
)
SELECT CAST(floor(log2(w)) AS INT) AS weight_band,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(min(w) AS BIGINT) AS min_w,
       CAST(max(w) AS BIGINT) AS max_w
FROM ew_p GROUP BY 1
"""


def q_kg_pred_confidence(spark, sf_dir):
    """Per-predicate confidence profile of the emitted triples
    (integer milli-units): extraction confidence is the edge-trust
    signal a KG consumer filters on; a predicate whose confidence
    floor is low inherits every gazetteer fuzzy match.

    Scale shape: one hash agg over memoized triples."""
    t = q_kg_triples(spark, sf_dir)
    c = F.expr("CAST(ROUND(confidence * 1000) AS BIGINT)")
    return t.select("pred", c.alias("cm")).groupBy("pred").agg(
        F.count("*").cast("bigint").alias("n_triples"),
        F.min("cm").cast("bigint").alias("min_conf_milli"),
        F.max("cm").cast("bigint").alias("max_conf_milli"),
        F.sum("cm").cast("bigint").alias("sum_conf_milli"),
    )


def _kg_pred_confidence_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
pc AS (
  SELECT pred, CAST(ROUND(confidence * 1000) AS BIGINT) AS cm FROM triples
)
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(min(cm) AS BIGINT) AS min_conf_milli,
       CAST(max(cm) AS BIGINT) AS max_conf_milli,
       CAST(sum(cm) AS BIGINT) AS sum_conf_milli
FROM pc GROUP BY 1
"""


def q_mention_method_mix(spark, sf_dir):
    """Extraction-method mix per entity label: gazetteer vs
    LLM-standin mention counts, segment spread, and the gazetteer
    share — which labels the curated lexicon actually covers and which
    ride on the model extractor alone.

    Scale shape: one (label, method) hash agg over memoized mentions +
    a label totals join."""
    _, m = _kg_stack(spark, sf_dir)
    lm = m.groupBy("label", "method").agg(
        F.count("*").cast("bigint").alias("n_mentions"),
        F.countDistinct("seg_id").cast("bigint").alias("n_segs"),
    )
    tot = lm.groupBy("label").agg(F.sum("n_mentions").alias("n_label"))
    return (
        lm.join(tot, "label")
        .selectExpr(
            "label", "method", "n_mentions", "n_segs",
            "n_mentions * 10000 DIV n_label AS method_share_bp",
        )
    )


def _mention_method_mix_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
mm AS (
  SELECT label, method,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT seg_id) AS BIGINT) AS n_segs
  FROM mentions GROUP BY 1, 2
),
mm_t AS (SELECT label, CAST(sum(n_mentions) AS BIGINT) AS n_label FROM mm GROUP BY 1)
SELECT m.label, m.method, m.n_mentions, m.n_segs,
       m.n_mentions * 10000 // t.n_label AS method_share_bp
FROM mm m JOIN mm_t t USING (label)
"""


def q_kg_conv_coverage(spark, sf_dir):
    """Extraction coverage funnel at conversation grain: of all
    conversations, how many yielded ≥1 mention and ≥1 triple — the
    first number a KG owner reports (a conversation with zero mentions
    contributes nothing downstream; a mention-but-no-triple
    conversation has entities that never co-occur in a segment).

    Scale shape: two conv-keyed distinct reductions over the memoized
    chain + one 1-row rollup.  (Note: canonical clusters can never mix
    labels — linking bands include the label — so the cross-label QA
    lives at the surface level in mention_ambiguity, not here.)"""
    t = derive_transcripts(spark, sf_dir).select("conv_id").distinct()
    _, m = _kg_stack(spark, sf_dir)
    tr = q_kg_triples(spark, sf_dir)
    wm = m.select("conv_id").distinct().withColumn("has_m", F.lit(1))
    wt = tr.select("conv_id").distinct().withColumn("has_t", F.lit(1))
    return (
        t.join(wm, "conv_id", "left")
        .join(wt, "conv_id", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_convs"),
            F.sum(F.coalesce("has_m", F.lit(0))).cast("bigint").alias("n_with_mentions"),
            F.sum(F.coalesce("has_t", F.lit(0))).cast("bigint").alias("n_with_triples"),
        )
        .selectExpr(
            "n_convs", "n_with_mentions", "n_with_triples",
            "n_with_mentions * 10000 DIV n_convs AS mention_coverage_bp",
            "n_with_triples * 10000 DIV n_convs AS triple_coverage_bp",
        )
    )


def _kg_conv_coverage_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)},
cc_all AS (SELECT DISTINCT conv_id FROM transcripts),
cc_m AS (SELECT DISTINCT conv_id FROM mentions),
cc_t AS (SELECT DISTINCT conv_id FROM triples)
SELECT CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(CASE WHEN m.conv_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_mentions,
       CAST(sum(CASE WHEN t.conv_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_triples,
       CAST(sum(CASE WHEN m.conv_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000
         // CAST(count(*) AS BIGINT) AS mention_coverage_bp,
       CAST(sum(CASE WHEN t.conv_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000
         // CAST(count(*) AS BIGINT) AS triple_coverage_bp
FROM cc_all a
LEFT JOIN cc_m m ON m.conv_id = a.conv_id
LEFT JOIN cc_t t ON t.conv_id = a.conv_id
"""


def q_kg_mention_span_profile(spark, sf_dir):
    """Extractor-QA: mention span lengths (end − start) per
    (method, label) — gazetteer spans are bounded by the longest
    surface; an LLM-standin span distribution drifting long means the
    chunk extractor is swallowing neighbors.  Exact integer stats.

    Scale shape: one (method, label) hash agg over memoized
    mentions."""
    _, m = _kg_stack(spark, sf_dir)
    ln = (F.col("end") - F.col("start")).cast("long")
    return m.select("method", "label", ln.alias("span_len")).groupBy(
        "method", "label"
    ).agg(
        F.count("*").cast("bigint").alias("n_mentions"),
        F.min("span_len").cast("bigint").alias("min_len"),
        F.max("span_len").cast("bigint").alias("max_len"),
        F.sum("span_len").cast("bigint").alias("sum_len"),
    )


def _kg_mention_span_profile_sql() -> str:
    from docs2kg_spark.oracle.sql_twins import kg_triples_ctes

    return f"""
WITH {kg_triples_ctes(TRANSCRIPTS_CTE)}
SELECT method, label,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(min("end" - start) AS BIGINT) AS min_len,
       CAST(max("end" - start) AS BIGINT) AS max_len,
       CAST(sum("end" - start) AS BIGINT) AS sum_len
FROM mentions GROUP BY 1, 2
"""
