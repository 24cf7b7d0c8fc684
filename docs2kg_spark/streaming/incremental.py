"""Incremental ingest via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9 — no streaming anywhere
in the tree), and so is the main pipeline.  This module is the §2.9
"lift": the same operators applied to a stream of transcript files with
`readStream` + `foreachBatch`, giving incremental KG construction with
exactly-once file-source semantics and content-addressed idempotence
(re-delivered turns produce identical seg_ids/mention rows, which
compaction collapses).

The per-batch body reuses the *batch* operators untouched — no operator
forks between batch and streaming (foreachBatch hands us a plain
DataFrame).  Stateful windows/watermarks are not used, and turns may
arrive in any order and split across any number of micro-batches: the
only order-dependent part of the KG (seg_idx, CONTAINS/NEXT) is built
once, at compaction, over each whole conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.graph import materialize_kg
from docs2kg_spark.operators.mentions import explode_extraction, extract_fused
from docs2kg_spark.operators.segments import segment_transcripts
from docs2kg_spark.plans.pipeline import INPUT_DDL, split_quarantine
from docs2kg_spark.session import driver_frame


# ---------------------------------------------------------------------------
# Full incremental KG maintenance: the streaming lift of the WHOLE batch
# pipeline (plans/pipeline.py) — extract → link → canonicalize →
# materialize.
#
# * per micro-batch, APPEND-ONLY delta logs of segments, mentions and
#   triples.  Content-addressed ids make the logs stable under replay;
#   each batch writes its own `_batch_id=N` partition with dynamic
#   overwrite, so Structured Streaming's replay-on-failure (same
#   batch_id) is exactly-once.  The log's seg_idx is per-batch and read by
#   nothing: mentions, triples and linking key on the content-addressed
#   seg_id (conv_id, turn_idx, text), which seg_idx never enters.
#
# * per micro-batch, an INCREMENTAL canonicalization update: only the
#   batch's genuinely-new (text,label) surfaces are MinHash-banded, and
#   candidate pairs are generated by joining the NEW band rows against the
#   accumulated band state — new×all instead of the batch path's all×all,
#   so per-batch linking cost is O(new vocabulary), not O(total).  Verified
#   edges accumulate; connected components re-resolve over the accumulated
#   edge set (near-dup edges only — orders of magnitude smaller than
#   mentions), and min-id survivors make the result independent of arrival
#   order: the final canonical map equals the batch pipeline's map over the
#   union of the input (parity-tested).  Canonical-id changes to
#   already-published nodes are recorded in an append-only
#   `canonical_remaps` audit log (node_id, old → new, batch) — the MERGE
#   feed for any downstream mirror (e.g. a Neo4j replica).
#
# * compact_kg builds the serve tables with the batch path's own two
#   functions: segment_transcripts re-segments the distinct turns of the
#   segments log (seg_idx numbered over each whole conversation), and
#   materialize_kg joins them with the accumulated mentions/triples and
#   the final canonical map.
#
# Known, documented divergences from the batch pipeline:
# * LSH block caps apply to the block size AS OF the batch that generates
#   the candidate (monotone growth): pairs verified before a block crossed
#   cfg.max_block_size stay linked, where the batch path drops the whole
#   block retroactively.  Caps bound cost; they are not semantics.
# * compaction deduplicates delta rows exactly (content-addressed), which
#   also collapses the pathological case of two turns sharing
#   (conv_id, turn_idx, text) — the batch path would keep both.
# ---------------------------------------------------------------------------

_EMPTY_EDGES_DDL = "a string, b string"
_STATE_DDL = "node_id string, text string, label string, canonical_id string"


def _read_or_empty(spark: SparkSession, store: TableStore, name: str, ddl: str) -> DataFrame:
    if store.exists(name):
        return store.read(name)
    return driver_frame(spark, ddl)


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """localCheckpoint ``df``; its row count rides the checkpoint job as an
    Observation instead of costing a second count() job."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return df, int(obs.get["n"] or 0)


def update_canonical_state(
    spark: SparkSession,
    store: TableStore,
    new_mentions: DataFrame,
    cfg: PipelineConfig,
    batch_id: int,
) -> dict:
    """One incremental linking step: fold the batch's new surfaces into
    the accumulated link state and re-resolve the canonical map.

    State tables (all under the store root):
      link_nodes   (node_id, text, label)   — accumulated vocabulary
      link_bands   (node_id, text, label, band_key) — accumulated LSH bands
      link_edges   (a, b)                   — accumulated verified pairs
      canonical_state (node_id, text, label, canonical_id) — current map
      canonical_remaps (node_id, old_canonical, new_canonical) — audit log
    """
    from docs2kg_spark.operators.linking import (
        band_table,
        connected_components,
        entity_nodes,
        verified_edges,
    )

    nodes_new = entity_nodes(new_mentions)
    # exclude THIS batch's own partition from "known" so a replayed batch
    # re-derives (and dynamic-overwrites) the identical delta
    if store.exists("link_nodes"):
        known = store.read("link_nodes").filter(F.col("_batch_id") != batch_id)
        nodes_new = nodes_new.join(known.select("node_id"), on="node_id", how="left_anti")
    # pin column order: the USING-join above moves node_id first, and a
    # replayed batch dynamic-overwrites its partition — the delta log's
    # physical column order must not depend on which path produced it
    nodes_new, n_new = _checkpoint_counted(nodes_new.select("node_id", "text", "label"))
    if n_new == 0 and store.exists("canonical_state"):
        return {"n_new_surfaces": 0, "n_new_edges": 0, "n_remaps": 0}

    new_bands = band_table(nodes_new, cfg).localCheckpoint()
    if store.exists("link_bands"):
        old_bands = (
            store.read("link_bands")
            .filter(F.col("_batch_id") != batch_id)
            .drop("_batch_id")
        )
        all_bands = old_bands.unionByName(new_bands)
    else:
        all_bands = new_bands

    # block cap on the block size as of THIS snapshot (same rule as
    # candidate_pairs, applied incrementally — see module doc for the
    # divergence on blocks that cross the cap mid-stream)
    sizes = all_bands.groupBy("band_key").agg(F.count("*").alias("block_size"))
    capped = sizes.filter(F.col("block_size") > cfg.max_block_size).select("band_key")
    kept_new = new_bands.join(F.broadcast(capped), on="band_key", how="left_anti")
    kept_all = all_bands.join(F.broadcast(capped), on="band_key", how="left_anti")

    # new×all candidate join (both-new pairs appear once after the
    # least/greatest orientation + distinct; an old×old pair cannot appear
    # because one side is always new)
    a, b = kept_new.alias("a"), kept_all.alias("b")
    sa = F.struct(F.col("a.node_id").alias("id"), F.col("a.text").alias("t"))
    sb = F.struct(F.col("b.node_id").alias("id"), F.col("b.text").alias("t"))
    pairs = (
        a.join(
            b,
            on=(F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.node_id") != F.col("b.node_id")),
        )
        .select(F.least(sa, sb).alias("lo"), F.greatest(sa, sb).alias("hi"))
        .select(
            F.col("lo.id").alias("a"),
            F.col("hi.id").alias("b"),
            F.col("lo.t").alias("text_a"),
            F.col("hi.t").alias("text_b"),
        )
        .distinct()
    )
    edges_new, n_edges_new = _checkpoint_counted(verified_edges(pairs, cfg))

    if n_new:
        store.append_batch(nodes_new, "link_nodes", batch_id)
        store.append_batch(new_bands, "link_bands", batch_id)
    if n_edges_new:
        store.append_batch(edges_new, "link_edges", batch_id)

    all_nodes = _read_or_empty(
        spark, store, "link_nodes", "node_id string, text string, label string"
    )
    if "_batch_id" in all_nodes.columns:
        all_nodes = all_nodes.drop("_batch_id")
    all_edges = _read_or_empty(spark, store, "link_edges", _EMPTY_EDGES_DDL)
    if "_batch_id" in all_edges.columns:
        all_edges = all_edges.drop("_batch_id")
    # CC over the ACCUMULATED verified edges — identical input to the batch
    # path at this snapshot, so min-id labels are arrival-order-independent
    cmap = connected_components(all_nodes, all_edges, cfg)
    new_state = (
        all_nodes.join(cmap, on="node_id")
        .select("node_id", "text", "label", "canonical_id")
        .localCheckpoint()
    )

    n_remaps = 0
    if store.exists("canonical_state"):
        old_state = store.read("canonical_state").select(
            "node_id", F.col("canonical_id").alias("old_canonical")
        )
        # materialized BEFORE canonical_state is replaced
        remaps, n_remaps = _checkpoint_counted(
            old_state.join(new_state.select("node_id", "canonical_id"), on="node_id")
            .filter(F.col("old_canonical") != F.col("canonical_id"))
            .select("node_id", "old_canonical", F.col("canonical_id").alias("new_canonical"))
        )
        if n_remaps:
            store.append_batch(remaps, "canonical_remaps", batch_id)
    # one committed snapshot: a crash before the commit leaves the previous
    # state current, and the replayed batch re-derives the same delta
    store.write(new_state, "canonical_state")
    return {"n_new_surfaces": n_new, "n_new_edges": n_edges_new, "n_remaps": n_remaps}


def process_kg_batch(
    spark: SparkSession,
    store: TableStore,
    batch_df: DataFrame,
    batch_id: int,
    cfg: PipelineConfig,
) -> dict:
    """The foreachBatch body of incremental_kg — also callable directly
    with a plain DataFrame (micro-batch semantics without a stream)."""
    q_obs = Observation(f"inc_quarantine_{batch_id}")
    good, quarantined = split_quarantine(batch_df, q_obs)
    segs, n_segs = _checkpoint_counted(segment_transcripts(good))
    n_bad = int(q_obs.get["n_bad"] or 0)
    if n_bad:
        store.append_batch(quarantined, "quarantine", batch_id)

    # ONE Arrow extraction pass, checkpointed, then two narrow projections
    enriched, _, _ = extract_fused(segs, spark, cfg)
    mentions, triples = explode_extraction(enriched.localCheckpoint())

    m_obs, t_obs = Observation(f"inc_m_{batch_id}"), Observation(f"inc_t_{batch_id}")
    store.append_batch(segs, "segments", batch_id)
    store.append_batch(
        mentions.observe(m_obs, F.count(F.lit(1)).alias("n")), "mentions", batch_id
    )
    store.append_batch(
        triples.observe(t_obs, F.count(F.lit(1)).alias("n")), "triples", batch_id
    )

    link_stats = update_canonical_state(spark, store, mentions, cfg, batch_id)

    # per-batch lineage metrics: one driver-written file keyed by batch id
    # (replay overwrites its own file — idempotent), zero Spark jobs
    stats = {
        "batch_id": batch_id,
        "n_segments": n_segs,
        "n_mentions": int(m_obs.get["n"] or 0),
        "n_triples": int(t_obs.get["n"] or 0),
        "n_quarantined": n_bad,
        **link_stats,
    }
    store.append_rows(
        [tuple(stats.values())],
        ", ".join(f"{k} bigint" for k in stats),
        "batch_metrics",
        suffix=f"{batch_id:05d}",
    )
    return stats


def incremental_kg(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
):
    """readStream(parquet dir) → per-micro-batch full KG maintenance into
    ``workdir`` (see module doc).  Drain with available_now=True, then
    compact_kg(spark, workdir) produces kg_nodes/kg_edges serve tables
    identical to the batch pipeline's over the union of the input.
    Returns the StreamingQuery."""
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, workdir)
    stream = (
        spark.readStream.schema(INPUT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_kg_batch(spark, store, batch_df, int(batch_id), cfg)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_kg(
    spark: SparkSession,
    workdir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Build the kg_nodes / kg_edges serve tables from the delta logs with
    the batch path's own functions: segment_transcripts over the distinct
    turns of the segments log (so seg_idx and the layout windows see each
    whole conversation, however its turns were split across or ordered
    between micro-batches), then materialize_kg with the accumulated
    mentions/triples and the final canonical map."""
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, workdir)
    schema = dict(cfg.layout_schema) if cfg.layout_schema is not None else None

    turns = store.read("segments").select("conv_id", "turn_idx", "role", "text", "tool").distinct()
    mentions = store.read("mentions").drop("_batch_id").distinct()
    triples = store.read("triples").drop("_batch_id").distinct()
    canonical_state = _read_or_empty(spark, store, "canonical_state", _STATE_DDL)
    kg_nodes, kg_edges = materialize_kg(
        segment_transcripts(turns),
        mentions,
        triples,
        canonical_state.select("node_id", "text", "label", "canonical_id"),
        layout_schema=schema,
    )
    store.write(kg_nodes, "kg_nodes")
    store.write(kg_edges, "kg_edges")
    return {
        "kg_nodes": store.read("kg_nodes"),
        "kg_edges": store.read("kg_edges"),
        "canonical_map": canonical_state,
        "store": store,
    }
