"""End-to-end KG construction pipeline (the distributed replacement for
the reference's sequential per-file loop, cli.py:174-215).

transcripts ─ quarantine split
  → segments        (window ordering; checkpoint)
  → mentions        (fused Arrow UDF, narrow; checkpoint)
  → triples         (same UDF pass, per-segment pairs; checkpoint)
  → canonical_map   (MinHash-LSH + CC fixpoint; checkpoint)
  → kg_nodes/edges  (joins through canonical_map; final tables)
  → metadata_kg     (conversation-level value nodes + HAS_* edges)
  → metrics         (per-partition counts, stage wall-times, LSH block stats)

Resume semantics (north_rule "resumable from checkpoint"): every stage
table is committed through TableStore's snapshot log under the
input-and-config fingerprint as its key; a rerun skips stages whose
committed key matches, so a mid-run kill converges on rerun — a crash
leaves each table at its old or its new version, and content-addressed
ids make outputs byte-stable across runs.

Error semantics: rows with null conv_id / turn_idx / unparseable shape
go to a quarantine table instead of killing the job — the distributed
analog of the reference's per-file exception swallowing (cli.py:208-213),
but visible instead of silent.
"""

from __future__ import annotations

import hashlib
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.graph import conversation_metadata_kg, materialize_kg
from docs2kg_spark.operators.linking import build_canonical_map
from docs2kg_spark.operators.segments import segment_transcripts


# the transcript contract (BASELINE.json::input_hint): normalize_input,
# the quarantine table, the stream's readStream schema and the JSONL
# parse schema all derive from this one constant
INPUT_SCHEMA = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "text": "string",
    "tool": "string",
    "ts": "timestamp",
}
INPUT_DDL = ", ".join(f"{c} {t}" for c, t in INPUT_SCHEMA.items())


def normalize_input(transcripts: DataFrame) -> DataFrame:
    """Project + cast to the contract schema (BASELINE.json::input_hint).
    Real 10^12-turn tables drift (an all-null column written by one
    producer arrives as a different parquet physical type); casting at
    the boundary means every stage downstream sees exactly one schema."""
    return transcripts.select(
        *[F.col(c).cast(t).alias(c) for c, t in INPUT_SCHEMA.items() if c in transcripts.columns]
    )


def input_fingerprint(transcripts: DataFrame, cfg: PipelineConfig) -> str:
    """Resume key: an order-insensitive content fingerprint of the
    normalized input plus a sha256 of the config.  Stands in for
    Iceberg's snapshot id.

    One agg pass: row count and the sum of one xxhash64 per row over
    every contract column.  The sum runs in decimal(38,0), so it is exact
    and cannot overflow under ANSI mode; unlike an xor, equal rows do not
    cancel.  repr of the frozen config is stable across processes
    (Python's hash() of a str is salted per process)."""
    normalized = normalize_input(transcripts)
    row = normalized.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*normalized.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    cfg_hash = hashlib.sha256(repr(cfg).encode("utf-8")).hexdigest()
    return f"{row['n']}:{row['h']}:{cfg_hash}"


def split_quarantine(
    transcripts: DataFrame, obs: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """The one quarantine rule: normalize, then split off the rows with a
    null conv_id or turn_idx, with their reason.  With ``obs``, the count
    of bad rows (``n_bad``) rides the pass that consumes the good rows, so
    a clean input costs no extra scan to prove it clean."""
    transcripts = normalize_input(transcripts)
    bad = F.col("conv_id").isNull() | F.col("turn_idx").isNull()
    src = transcripts
    if obs is not None:
        src = transcripts.observe(obs, F.sum(bad.cast("long")).alias("n_bad"))
    return src.filter(~bad), transcripts.filter(bad).withColumn(
        "quarantine_reason", F.lit("null conv_id or turn_idx")
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
) -> dict:
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, workdir)
    # the fingerprint exists to key resume; with resume=False the keys are
    # write-only, so skip the extra full input scan (a rerun with
    # resume=True recomputes the real fp, mismatches, and rebuilds — safe
    # in both directions)
    fp = input_fingerprint(transcripts, cfg) if resume else "ephemeral"

    def current(*names: str) -> bool:
        """The resume check: every table is committed under this run's key."""
        return resume and all(store.committed(n, fp) for n in names)

    stage_times: dict[str, float] = {}
    # side jobs (quarantine / metadata / metrics / secondary table writes)
    # are independent of the critical path segments → extraction →
    # canonicalize → materialize, so they run as concurrently submitted
    # Spark jobs from driver threads (job submission is thread-safe; on a
    # cluster this is standard driver-side job parallelism, and locally it
    # fills scheduler gaps instead of adding serial barriers)
    side = ThreadPoolExecutor(max_workers=4, thread_name_prefix="docs2kg-side")
    side_futures: list = []

    def submit_side(fn, *args):
        f = side.submit(fn, *args)
        side_futures.append(f)
        return f

    meta_future = None
    block_stats_future = None

    def _timed_write(df: DataFrame, name: str) -> float:
        t0 = time.monotonic()
        store.write(df, name, key=fp)
        return time.monotonic() - t0

    def run_stage(name: str, build) -> DataFrame:
        """Build + commit one stage unless it is current."""
        if current(name):
            stage_times[name] = 0.0
            return store.read(name)
        t0 = time.monotonic()
        store.write(build(), name, key=fp)
        stage_times[name] = time.monotonic() - t0
        return store.read(name)

    # Any critical-path failure must still join the background
    # quarantine/metrics/metadata writes: otherwise those threads keep
    # writing into the workdir after the run has died, and their own
    # failures are swallowed because nothing ever awaits the futures
    # (round-1 advice item 4).  The happy path drains them explicitly
    # below (their errors propagate there); this except only runs on
    # the failure path and must not mask the original error.
    try:
        # Quarantine detection rides the segments pass as an Observation
        # (zero extra scan): the common case — a clean input — costs
        # nothing, and only when bad rows are OBSERVED does a side job
        # scan the input again to materialize them with reasons.  The
        # old always-on side write re-scanned the full input every run.
        seg_fresh = not current("segments")
        q_obs = Observation("quarantine_probe") if seg_fresh else None
        good, quarantined = split_quarantine(transcripts, q_obs)
        quarantine_ddl = ", ".join(
            f"{c} {t}" for c, t in INPUT_SCHEMA.items() if c in transcripts.columns
        ) + ", quarantine_reason string"

        if cfg.segment_bucket_turns > 0:
            from docs2kg_spark.operators.segments import segment_transcripts_bucketed

            segments = run_stage(
                "segments", lambda: segment_transcripts_bucketed(good, cfg.segment_bucket_turns)
            )
        else:
            segments = run_stage("segments", lambda: segment_transcripts(good))

        if q_obs is not None:
            # segments just materialized → the observation is bound
            if int(q_obs.get["n_bad"] or 0) > 0:
                submit_side(lambda: store.write(quarantined, "quarantine", key=fp))
            else:
                store.write_rows([], quarantine_ddl, "quarantine", key=fp)
        elif not current("quarantine"):
            # segments resumed but quarantine missing (partial workdir)
            submit_side(lambda: store.write(quarantined, "quarantine", key=fp))

        # metadata KG depends only on the raw turns — overlap it with the
        # whole extraction/linking critical path
        def _meta_branch():
            t0 = time.monotonic()
            n, e = conversation_metadata_kg(good)
            store.write(n, "metadata_nodes", key=fp)
            store.write(e, "metadata_edges", key=fp)
            stage_times["metadata_nodes"] = time.monotonic() - t0

        if current("metadata_nodes", "metadata_edges"):
            stage_times["metadata_nodes"] = 0.0
        else:
            meta_future = side.submit(_meta_branch)

        # fused extraction: mentions + triples in ONE Arrow pass, no shuffle
        # (the per-segment pair generation runs inside the UDF; see
        # mentions.py::_triples_of)
        if current("mentions", "triples"):
            stage_times["mentions"] = stage_times["triples"] = 0.0
            mentions = store.read("mentions")
            triples = store.read("triples")
        else:
            t0 = time.monotonic()
            from docs2kg_spark.operators.mentions import explode_extraction, extract_fused

            enriched, _, _ = extract_fused(segments, spark, cfg)
            # checkpoint the UDF output itself: exactly ONE extraction pass
            # feeds both projections (a .persist() can evict under memory
            # pressure and silently re-run the UDF)
            mentions_df, triples_df = explode_extraction(enriched.localCheckpoint())
            # the two explode-projections read the same checkpoint and are
            # independent → concurrent jobs
            with ThreadPoolExecutor(max_workers=2) as pool:
                fm = pool.submit(_timed_write, mentions_df, "mentions")
                ft = pool.submit(_timed_write, triples_df, "triples")
                stage_times["x_mentions_write"] = fm.result()
                stage_times["triples"] = ft.result()
            stage_times["mentions"] = time.monotonic() - t0
            mentions = store.read("mentions")
            triples = store.read("triples")

        # ontology round-trip (reference: semantic_kg/base.py:60-82): merge
        # newly discovered mention types into the persisted ontology so an
        # incremental rerun starts from them — tiny distinct agg + tiny
        # write, runs as a side job off the critical path
        from docs2kg_spark.operators.ontology_gen import persist_updated_ontology

        submit_side(lambda: persist_updated_ontology(store, mentions, cfg.ontology))

        def _canonical():
            nonlocal block_stats_future
            cmap, block_stats = build_canonical_map(mentions, spark, cfg)
            # the stats collect feeds the metrics table, not canonical_map
            # — run it off the critical path (for the small-vocab driver
            # fast path it is a local relation, not even a job)
            block_stats_future = submit_side(lambda: block_stats.collect()[0].asDict())
            return cmap

        canonical_map = run_stage("canonical_map", _canonical)

        if current("kg_nodes", "kg_edges"):
            stage_times["kg_nodes"] = 0.0
        else:
            t0 = time.monotonic()
            schema = dict(cfg.layout_schema) if cfg.layout_schema is not None else None
            nodes_df, edges_df = materialize_kg(
                segments, mentions, triples, canonical_map, layout_schema=schema
            )
            # node and edge tables share inputs but not outputs → concurrent
            with ThreadPoolExecutor(max_workers=2) as pool:
                fn = pool.submit(_timed_write, nodes_df, "kg_nodes")
                fe = pool.submit(_timed_write, edges_df, "kg_edges")
                stage_times["x_kg_nodes_write"] = fn.result()
                stage_times["x_kg_edges_write"] = fe.result()
            stage_times["kg_nodes"] = time.monotonic() - t0
        kg_nodes = store.read("kg_nodes")
        kg_edges = store.read("kg_edges")

        if meta_future is not None:
            meta_future.result()
        metadata_nodes = store.read("metadata_nodes")
        metadata_edges = store.read("metadata_edges")

        # drain side jobs (quarantine, ontology, block stats), then assemble
        # the combined metrics table driver-side: per-partition rows come
        # from the parquet footers of each stage table (no re-scan jobs),
        # wall times from the stage_times dict, LSH block stats from their
        # side job — the whole metrics table is a driver-side metadata
        # write, zero Spark jobs
        for f in side_futures:
            f.result()
        side.shutdown(wait=True)
        metric_rows: list[tuple] = [
            (-1, int(v * 1000), f"{k}__wall_ms") for k, v in stage_times.items()
        ]
        if block_stats_future is not None:
            # LSH blocks built, capped, and the largest, for the run that
            # rebuilt canonical_map
            metric_rows.extend(
                (-1, int(v or 0), f"canonical_map__{k}")
                for k, v in block_stats_future.result().items()
            )
        for name in (
            "segments",
            "mentions",
            "triples",
            "canonical_map",
            "kg_nodes",
            "kg_edges",
            "metadata_nodes",
            "metadata_edges",
            "quarantine",
        ):
            if store.exists(name):
                metric_rows.extend(
                    (pid, rows, name) for pid, rows in store.partition_counts(name)
                )
        store.write_rows(metric_rows, "partition_id int, rows bigint, stage string", "metrics")

        return {
            "fingerprint": fp,
            "segments": segments,
            "mentions": mentions,
            "triples": triples,
            "canonical_map": canonical_map,
            "kg_nodes": kg_nodes,
            "kg_edges": kg_edges,
            "metadata_nodes": metadata_nodes,
            "metadata_edges": metadata_edges,
            "stage_times": stage_times,
            "store": store,
        }
    except BaseException:
        if meta_future is not None:
            meta_future.exception()
        for f in side_futures:
            f.exception()
        side.shutdown(wait=True)
        raise
