"""Incremental KG maintenance (streaming/incremental.py::incremental_kg):
the streaming lift of the FULL batch pipeline.  The load-bearing claim is
parity: draining the same input through micro-batches and compacting must
produce the batch pipeline's canonical map and kg_nodes/kg_edges exactly
(content-addressed ids + min-id survivors make the result independent of
arrival order)."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.fixtures import transcripts_pandas
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.oracle.reference import det_id
from docs2kg_spark.plans import run_pipeline
from docs2kg_spark.streaming.incremental import (
    compact_kg,
    incremental_kg,
    process_kg_batch,
)

TS = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
ROW_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _write_stream_file(spark, pdf, in_dir, name, tmp_path, ddl=None):
    """Land one pandas chunk as a single flat parquet FILE in in_dir (the
    file-source lists flat files; a nested directory per chunk would be
    invisible to it)."""
    stage = str(tmp_path / f"_stage_{name}")
    df = spark.createDataFrame(pdf, ddl) if ddl else spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(stage + "/part-*.parquet")[0]
    in_dir.mkdir(exist_ok=True)
    shutil.copy(part, str(in_dir / f"{name}.parquet"))


def _drain(spark, in_dir, tmp_path, tag, **kw):
    wd = str(tmp_path / f"{tag}_wd")
    q = incremental_kg(
        spark, str(in_dir), wd, str(tmp_path / f"{tag}_ckpt"), max_files_per_trigger=1, **kw
    )
    assert q.awaitTermination(300)
    return wd


def _edge_rows(df):
    return sorted(
        (r.src, r.dst, r.type, r.conv_id, r.properties)
        for r in df.select("src", "dst", "type", "conv_id", "properties").collect()
    )


def _node_rows(df):
    return sorted(
        (r.node_id, r.canonical_id, r.type, r.properties)
        for r in df.select("node_id", "canonical_id", "type", "properties").collect()
    )


def _assert_kg_parity(inc, batch):
    got_cm = sorted(map(tuple, inc["canonical_map"].collect()))
    want_cm = sorted(map(tuple, batch["canonical_map"].collect()))
    assert got_cm == want_cm
    assert _node_rows(inc["kg_nodes"]) == _node_rows(batch["kg_nodes"])
    assert _edge_rows(inc["kg_edges"]) == _edge_rows(batch["kg_edges"])


def test_incremental_matches_batch(spark, tmp_path):
    """3 conversation-complete micro-batches + compact == one batch run."""
    pdf = transcripts_pandas(30, 8, seed=7)
    convs = sorted(pdf.conv_id.unique())
    in_dir = tmp_path / "in"
    for i, chunk in enumerate((convs[:10], convs[10:20], convs[20:])):
        _write_stream_file(spark, pdf[pdf.conv_id.isin(chunk)], in_dir, f"f{i}", tmp_path)

    wd = _drain(spark, in_dir, tmp_path, "m")
    # the drain writes the three delta logs, the link state and the
    # per-batch metrics — no per-batch KG slice
    assert sorted(os.listdir(wd)) == [
        "batch_metrics", "canonical_remaps", "canonical_state", "link_bands",
        "link_edges", "link_nodes", "mentions", "segments", "triples",
    ]
    inc = compact_kg(spark, wd)

    batch = run_pipeline(
        spark, spark.createDataFrame(pdf), str(tmp_path / "batch_wd"), resume=False
    )
    _assert_kg_parity(inc, batch)

    # per-batch lineage landed: one metrics row per micro-batch
    metrics = spark.read.parquet(f"{wd}/batch_metrics").collect()
    assert sorted(r.batch_id for r in metrics) == [0, 1, 2]
    assert all(r.n_segments > 0 for r in metrics)


def test_split_conversation_detected_and_repaired(spark, tmp_path):
    """A conversation delivered in three files, late turns first, gets a
    per-batch seg_idx in each micro-batch; compaction re-segments the
    whole conversation and reaches exact batch parity with no repair
    input."""
    pdf = transcripts_pandas(12, 8, seed=13)
    convs = sorted(pdf.conv_id.unique())
    victim = pdf.conv_id.value_counts().idxmax()
    assert pdf[pdf.conv_id == victim].turn_idx.nunique() >= 3
    cuts = sorted(pdf[pdf.conv_id == victim].turn_idx.unique())
    lo, hi = cuts[len(cuts) // 3], cuts[2 * len(cuts) // 3]
    v = pdf.conv_id == victim
    parts = (
        pdf[v & (pdf.turn_idx >= hi)],
        pdf[v & (pdf.turn_idx >= lo) & (pdf.turn_idx < hi)],
        pdf[v & (pdf.turn_idx < lo)],
    )
    others = [c for c in convs if c != victim]
    in_dir = tmp_path / "in"
    for i, part in enumerate(parts):
        chunk = pdf[pdf.conv_id.isin(others[i::3])]
        _write_stream_file(spark, pd.concat([part, chunk]), in_dir, f"f{i}", tmp_path)

    wd = _drain(spark, in_dir, tmp_path, "s")
    metrics = spark.read.parquet(f"{wd}/batch_metrics").collect()
    assert sorted(r.batch_id for r in metrics) == [0, 1, 2]
    inc = compact_kg(spark, wd)

    batch = run_pipeline(spark, spark.createDataFrame(pdf), str(tmp_path / "batch_wd"), resume=False)
    _assert_kg_parity(inc, batch)


def test_merge_across_batches_writes_remap_log(spark, tmp_path):
    """Batch 2 introduces a near-duplicate whose node_id is SMALLER than
    the already-canonical surface from batch 1 — the merge must re-point
    the published node and record it in canonical_remaps."""
    # the extractor lowercases mention surfaces (oracle parity), so the
    # entity node ids key on the lowercased text
    id_corp = det_id("entity", "acme corp", "Organization")
    id_corporation = det_id("entity", "acme corporation", "Organization")
    # order the batches so the later surface wins the min-id survivorship:
    # first deliver the LARGER id, then the smaller one
    first, second = (
        ("Acme Corp", "Acme Corporation")
        if id_corp > id_corporation
        else ("Acme Corporation", "Acme Corp")
    )
    # surfaces are delimited by punctuation: the gazetteer boundary rule
    # drops a match that is preceded OR followed by an alphabetic token
    rows1 = [("c1", 0, "user", f"Alice: {first}!", None, TS)]
    rows2 = [("c2", 0, "user", f"Bob: {second}!", None, TS)]
    in_dir = tmp_path / "in"
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def _pdf(rows):
        d = pd.DataFrame(rows, columns=cols)
        d["turn_idx"] = d["turn_idx"].astype("int32")  # stream schema is int32
        return d

    # explicit DDL: an all-None tool column must not be inferred boolean
    _write_stream_file(spark, _pdf(rows1), in_dir, "f0", tmp_path, ddl=ROW_DDL)
    _write_stream_file(spark, _pdf(rows2), in_dir, "f1", tmp_path, ddl=ROW_DDL)

    wd = _drain(spark, in_dir, tmp_path, "r")
    winner = min(id_corp, id_corporation)
    loser = max(id_corp, id_corporation)

    state = {r.node_id: r.canonical_id for r in TableStore(spark, wd).read("canonical_state").collect()}
    assert state[loser] == winner
    assert state[winner] == winner

    remaps = spark.read.parquet(f"{wd}/canonical_remaps").collect()
    assert any(
        r.node_id == loser and r.old_canonical == loser and r.new_canonical == winner
        for r in remaps
    )


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running the foreachBatch body under the SAME batch_id (what
    Structured Streaming does after a mid-batch failure) must leave every
    delta log and the canonical state byte-identical — dynamic partition
    overwrite, not blind append."""
    pdf = transcripts_pandas(8, 6, seed=17)
    df = spark.createDataFrame(pdf)
    wd = str(tmp_path / "wd")
    store = TableStore(spark, wd)
    cfg = PipelineConfig()

    def snapshot():
        names = ("segments", "mentions", "link_nodes", "link_edges", "canonical_state")
        return {
            name: sorted(map(tuple, store.read(name).collect()))
            for name in names
            if store.exists(name)
        }

    s1 = process_kg_batch(spark, store, df, 0, cfg)
    snap1 = snapshot()
    s2 = process_kg_batch(spark, store, df, 0, cfg)  # replay
    snap2 = snapshot()
    assert snap1 == snap2
    assert s1["n_segments"] == s2["n_segments"] > 0
    # the replay excludes its own partition from "known", re-derives the
    # identical delta, and dynamic-overwrites it in place
    assert s2["n_new_surfaces"] == s1["n_new_surfaces"]
    assert s2["n_remaps"] == 0


def test_redelivery_of_copied_file_is_idempotent(spark, tmp_path):
    """A byte-identical file re-delivered under a NEW name (so the file
    source does reprocess it) must not change the compacted KG —
    content-addressed rows dedupe at compaction."""
    pdf = transcripts_pandas(10, 6, seed=19)
    in_dir = tmp_path / "in"
    _write_stream_file(spark, pdf, in_dir, "f0", tmp_path)

    wd = _drain(spark, in_dir, tmp_path, "d")
    before = compact_kg(spark, wd)
    nodes_before = _node_rows(before["kg_nodes"])
    edges_before = _edge_rows(before["kg_edges"])

    shutil.copy(str(in_dir / "f0.parquet"), str(in_dir / "f0_copy.parquet"))
    # same workdir + same checkpoint: only the new file forms batch 1
    q = incremental_kg(
        spark, str(in_dir), wd, str(tmp_path / "d_ckpt"), max_files_per_trigger=1
    )
    assert q.awaitTermination(300)

    after = compact_kg(spark, wd)
    assert _node_rows(after["kg_nodes"]) == nodes_before
    assert _edge_rows(after["kg_edges"]) == edges_before


def test_canonical_state_commit_fault_then_replay(spark, tmp_path, monkeypatch):
    """The canonical_state commit of batch 1 raises once: the batch must
    raise, the state must still read as batch 0 left it, and replaying
    batch 1 under the same batch_id must end with a clean run's tables."""
    pdf = transcripts_pandas(8, 6, seed=17)
    convs = sorted(pdf["conv_id"].unique())
    batches = [
        spark.createDataFrame(pdf[pdf["conv_id"].isin(convs[i::2])]) for i in range(2)
    ]
    cfg = PipelineConfig()
    names = (
        "segments", "mentions", "link_nodes", "link_bands", "link_edges",
        "canonical_state", "canonical_remaps", "batch_metrics",
    )

    def tables(store):
        return {
            name: sorted(map(tuple, store.read(name).collect()))
            for name in names
            if store.exists(name)
        }

    clean = TableStore(spark, str(tmp_path / "clean"))
    for b, df in enumerate(batches):
        process_kg_batch(spark, clean, df, b, cfg)

    store = TableStore(spark, str(tmp_path / "wd"))
    process_kg_batch(spark, store, batches[0], 0, cfg)
    state0 = tables(store)["canonical_state"]

    real_commit = TableStore._commit
    fired = []

    def flaky_commit(self, name, *args, **kwargs):
        if name == "canonical_state" and not fired:
            fired.append(name)
            raise RuntimeError("injected fault at the canonical_state commit")
        return real_commit(self, name, *args, **kwargs)

    monkeypatch.setattr(TableStore, "_commit", flaky_commit)
    with pytest.raises(RuntimeError, match="injected fault"):
        process_kg_batch(spark, store, batches[1], 1, cfg)
    assert fired == ["canonical_state"]
    assert tables(store)["canonical_state"] == state0

    process_kg_batch(spark, store, batches[1], 1, cfg)  # replay
    assert tables(store) == tables(clean)
