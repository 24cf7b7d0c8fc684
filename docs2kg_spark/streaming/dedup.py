"""Incremental streaming deduplication.

A document stream deduplicated against the ACCUMULATED fingerprint
state across micro-batches — the streaming lift of
`operators/dedup.exact_dedup` (reference dedups only within one batch
run; a 100 TB ingest is a rolling stream, so first-seen-wins must hold
across arrivals, restarts, and re-deliveries).

Per micro-batch (`foreachBatch`, file source with exactly-once batch
semantics):

1. fingerprint each incoming doc (sha2 over normalized text — the SAME
   key as the batch operator, so batch and streaming agree doc-for-doc),
2. in-batch first-wins (min doc_id per fingerprint),
3. anti-join against the persisted fingerprint table,
4. append the survivors to `unique_docs` and their fingerprints to the
   `fingerprints` state table — both via TableStore.append_batch, whose
   per-batch-id delta directories make replayed batches overwrite their
   own output instead of duplicating it.

100 TB shape: state is ONE narrow (fp, doc_id) table read back as a
plain parquet scan per batch; the anti-join is fp-keyed (broadcastable
while state is small, SMJ after — Spark picks per stats); nothing ever
collects to the driver.  At petabyte state, the same loop runs with the
fingerprint table bucketed by fp (io/bucketing.py) so the per-batch
anti-join is Exchange-free on the state side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.text import fingerprint

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_FP_DDL = "fp string, doc_id bigint"


def _dedup_batch(store: TableStore, batch_df: DataFrame, batch_id: int) -> dict:
    """The foreachBatch body, exposed for direct batch-parity tests.
    Returns counts for observability."""
    spark = batch_df.sparkSession
    fp = batch_df.withColumn("fp", fingerprint(F.col("text")))
    # in-batch first-wins: min doc_id per fingerprint (exact, like
    # operators/dedup.exact_dedup)
    firsts = fp.join(
        fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")),
        ["fp", "doc_id"],
    )
    if store.exists("fingerprints"):
        seen = store.read("fingerprints").select("fp")
    else:
        seen = spark.createDataFrame([], _FP_DDL).select("fp")
    fresh = firsts.join(seen, "fp", "left_anti").localCheckpoint()
    n_in, n_fresh = batch_df.count(), fresh.count()
    store.append_batch(fresh.drop("fp"), "unique_docs", batch_id)
    store.append_batch(fresh.select("fp", "doc_id"), "fingerprints", batch_id)
    return {"batch_id": batch_id, "n_in": n_in, "n_unique_new": n_fresh}


def incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream(parquet dir) → cross-batch exact dedup →
    unique_docs/fingerprints sinks.  With available_now=True drains the
    directory and stops (the batch-compatible trigger tests use);
    False runs continuously.  Returns the StreamingQuery."""
    store = TableStore(spark, output_dir)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _dedup_batch(store, df, bid)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# streaming sketch state: a count-min sketch maintained across batches
# ---------------------------------------------------------------------------


def _cms_batch(store: TableStore, batch_df: DataFrame, batch_id: int,
               key_col: str = "user_id") -> dict:
    """foreachBatch body for incremental_cms: write the BATCH's delta
    sketch keyed by batch id (append_batch overwrites its own delta on
    replay — re-delivered batches can never double-count, the same
    idempotence contract as the dedup sink); the merged sketch is
    cms_merged()'s sum over deltas, valid because CMS cells are
    mergeable by addition.  Exposed for direct batch-parity tests."""
    from docs2kg_spark.operators.sketches import cms_build

    delta = cms_build(batch_df, key_col).localCheckpoint()
    n_cells = delta.count()
    store.append_batch(delta, "cms_deltas", batch_id)
    return {"batch_id": batch_id, "n_cells": n_cells}


def cms_merged(store: TableStore) -> DataFrame:
    """The up-to-date sketch: Σ cells over every batch delta — a
    constant d×w result however many batches landed."""
    return (
        store.read("cms_deltas")
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def incremental_cms(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    key_col: str = "user_id",
    available_now: bool = True,
):
    """readStream(parquet dir) → per-batch CMS merge into a persisted
    constant-size sketch table.  Query the final sketch with
    operators/sketches.cms_estimate.  Returns the StreamingQuery."""
    store = TableStore(spark, output_dir)
    stream = (
        spark.readStream.schema(schema or DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _cms_batch(store, df, bid, key_col)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# streaming sketch state: HyperLogLog registers maintained across batches
# ---------------------------------------------------------------------------


def _hll_batch(store: TableStore, batch_df: DataFrame, batch_id: int,
               key_col: str = "user_id") -> dict:
    """foreachBatch body for incremental_hll: write the BATCH's register
    delta keyed by batch id (append_batch overwrites its own delta on
    replay, so re-delivered batches can never raise a register above
    what the data supports — idempotent by the same contract as the CMS
    deltas); hll_merged folds deltas with MAX, HLL's merge operator."""
    from docs2kg_spark.operators.sketches import hll_registers

    delta = hll_registers(batch_df, key_col).localCheckpoint()
    n_regs = delta.count()
    store.append_batch(delta, "hll_deltas", batch_id)
    return {"batch_id": batch_id, "n_regs": n_regs}


def hll_merged(store: TableStore) -> DataFrame:
    """The up-to-date register table: max(r) per bucket over every batch
    delta — ≤ m rows however many batches landed.  Feed to the same
    harmonic-sum estimate as the batch path (register-exact parity is
    the test contract)."""
    return (
        store.read("hll_deltas")
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


def incremental_hll(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    key_col: str = "user_id",
    available_now: bool = True,
):
    """readStream(parquet dir) → per-batch HLL register merge into a
    persisted ≤m-row register table — the streaming distinct-count
    the batch query hll_user_distinct answers one-shot."""
    store = TableStore(spark, output_dir)
    stream = (
        spark.readStream.schema(schema or DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _hll_batch(store, df, bid, key_col)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
