import hashlib

import pytest
from pyspark.sql import functions as F

from docs2kg_spark.plans import run_pipeline


def _table_hash(df):
    """order-insensitive content hash of a DataFrame."""
    rows = sorted(str(r) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_pipeline_end_to_end_and_resume_idempotent(spark, transcripts_df, oracle_result, tmp_path):
    wd = str(tmp_path / "kg")
    res1 = run_pipeline(spark, transcripts_df, wd)
    # triple set matches oracle (P/R = 1.0 on the fixture)
    got = {(r.seg_id, r.subj, r.pred, r.obj) for r in res1["triples"].collect()}
    want = {(t["seg_id"], t["subj"], t["pred"], t["obj"]) for t in oracle_result["triples"]}
    assert got == want

    h1 = {k: _table_hash(res1[k]) for k in ("segments", "mentions", "triples", "canonical_map", "kg_nodes", "kg_edges")}

    # rerun resumes: all stages skipped, outputs byte-identical
    res2 = run_pipeline(spark, transcripts_df, wd)
    assert all(v == 0.0 for v in res2["stage_times"].values())
    h2 = {k: _table_hash(res2[k]) for k in h1}
    assert h1 == h2

    # kill-and-rerun: delete a mid-pipeline checkpoint, rerun, converge
    res1["store"].drop("triples")
    res3 = run_pipeline(spark, transcripts_df, wd)
    assert res3["stage_times"]["triples"] > 0  # re-ran
    assert res3["stage_times"]["segments"] == 0.0  # still skipped
    assert _table_hash(res3["triples"]) == h1["triples"]


def test_quarantine(spark, tmp_path):
    rows = [
        ("c1", 0, "user", "alice: hi.", None),
        (None, 1, "user", "bad row", None),
        ("c2", None, "user", "also bad", None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string")
    res = run_pipeline(spark, df, str(tmp_path / "q"))
    q = res["store"].read("quarantine")
    assert q.count() == 2
    assert res["segments"].count() == 1


def test_metrics_written(spark, transcripts_df, tmp_path):
    res = run_pipeline(spark, transcripts_df, str(tmp_path / "m"))
    metrics = res["store"].read("metrics")
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert "segments" in stages and "mentions" in stages
    # per-partition rows sum to table counts
    seg_rows = metrics.filter(F.col("stage") == "segments").agg(F.sum("rows")).collect()[0][0]
    assert seg_rows == res["segments"].count()
    # LSH block stats of the canonical_map build ride the same table
    want = ("canonical_map__n_blocks", "canonical_map__n_capped_blocks", "canonical_map__max_block_size")
    block = {
        r.stage: r.rows
        for r in metrics.filter((F.col("partition_id") == -1) & F.col("stage").isin(*want)).collect()
    }
    assert set(block) == set(want)
    assert block["canonical_map__n_blocks"] > 0
    assert 0 <= block["canonical_map__n_capped_blocks"] <= block["canonical_map__n_blocks"]
    assert block["canonical_map__max_block_size"] >= 1


def test_transcripts_spark_deterministic(spark):
    """Distributed fixture: identical content under different partitionings
    (per-conv RNG keyed on conversation index, not executor placement)."""
    from docs2kg_spark.fixtures import transcripts_spark

    a = transcripts_spark(spark, n_convs=40, mean_turns=6, seed=3, partitions=2)
    b = transcripts_spark(spark, n_convs=40, mean_turns=6, seed=3, partitions=7)
    ka = sorted(map(tuple, a.select("conv_id", "turn_idx", "role", "text").collect()))
    kb = sorted(map(tuple, b.select("conv_id", "turn_idx", "role", "text").collect()))
    assert ka == kb
    assert len({r[0] for r in ka}) == 40
    # schema matches the input contract
    assert dict(a.dtypes) == {
        "conv_id": "string", "turn_idx": "int", "role": "string",
        "text": "string", "tool": "string", "ts": "timestamp",
    }


def test_pipeline_bucketed_segmentation_same_outputs(spark, transcripts_df, tmp_path):
    """Pipeline with long-conversation-safe segmentation produces the
    same tables as the window path (content-addressed ids ⇒ comparable)."""
    from docs2kg_spark.config import PipelineConfig

    a = run_pipeline(spark, transcripts_df, str(tmp_path / "plain"), resume=False)
    b = run_pipeline(
        spark,
        transcripts_df,
        str(tmp_path / "bucketed"),
        cfg=PipelineConfig(segment_bucket_turns=5),
        resume=False,
    )
    for tbl in ("segments", "triples", "kg_edges"):
        assert _table_hash(a[tbl]) == _table_hash(b[tbl]), tbl


def test_ontology_persistence_round_trip(spark, tmp_path):
    # a type discovered in one run must survive a restart (reference:
    # semantic_kg/base.py:60-82 ontology.json round-trip)
    from docs2kg_spark.config import Ontology
    from docs2kg_spark.io.sinks import TableStore
    from docs2kg_spark.operators.ontology_gen import (
        load_ontology,
        persist_updated_ontology,
    )

    store = TableStore(spark, str(tmp_path / "onto_store"))
    base = Ontology()
    mentions = spark.createDataFrame(
        [("alice", "Person"), ("px-9", "Chemical")], "text string, label string"
    )
    merged, changed = persist_updated_ontology(store, mentions, base)
    assert changed and "Chemical" in merged.entity_types

    # "restart": a fresh load must see the discovered type without help
    reloaded = load_ontology(store)
    assert reloaded is not None and "Chemical" in reloaded.entity_types
    # and a second identical run is a no-op (no rewrite churn)
    merged2, changed2 = persist_updated_ontology(store, mentions, base)
    assert not changed2 and merged2.entity_types == reloaded.entity_types


# ---------------------------------------------------------------------------
# resume key: covers every input column and the config
# ---------------------------------------------------------------------------

_STAGES = ("segments", "mentions", "triples", "canonical_map", "kg_nodes", "kg_edges")


def _small_input(spark):
    from docs2kg_spark.fixtures import transcripts_pandas

    return spark.createDataFrame(transcripts_pandas(8, 6, seed=7))


def test_resume_key_covers_config(spark, tmp_path):
    """A rerun with a different config in the same workdir must rebuild,
    not resume the old config's tables."""
    from docs2kg_spark.config import DEFAULT_GAZETTEER, PipelineConfig

    df = _small_input(spark)
    wd = str(tmp_path / "kg")
    run_pipeline(spark, df, wd)
    small = PipelineConfig(gazetteer=DEFAULT_GAZETTEER[:5])
    rerun = run_pipeline(spark, df, wd, small)
    fresh = run_pipeline(spark, df, str(tmp_path / "fresh"), small)
    assert rerun["stage_times"]["mentions"] > 0
    assert {k: rerun[k].count() for k in _STAGES} == {k: fresh[k].count() for k in _STAGES}


def test_resume_key_covers_role(spark, tmp_path):
    """`role` is not in the old (conv_id, turn_idx, text) key: changing
    only the roles must still rebuild the segments."""
    df = _small_input(spark)
    wd = str(tmp_path / "kg")
    run_pipeline(spark, df, wd)
    res = run_pipeline(spark, df.withColumn("role", F.lit("tool")), wd)
    assert res["stage_times"]["segments"] > 0
    assert {r.role for r in res["segments"].select("role").distinct().collect()} == {"tool"}


def test_fingerprint_duplicate_rows_do_not_cancel(spark):
    """{A, A} and {B, B} both xor to 0; the summed key tells them apart."""
    from docs2kg_spark.config import PipelineConfig
    from docs2kg_spark.plans.pipeline import input_fingerprint

    ddl = "conv_id string, turn_idx int, role string, text string"
    a = spark.createDataFrame([("c1", 0, "user", "alice")] * 2, ddl)
    b = spark.createDataFrame([("c2", 1, "user", "bob")] * 2, ddl)
    cfg = PipelineConfig()
    assert input_fingerprint(a, cfg) != input_fingerprint(b, cfg)
    assert input_fingerprint(a, cfg) == input_fingerprint(a.repartition(3), cfg)


# ---------------------------------------------------------------------------
# fault injection: a crash at a table's commit, then a resumed rerun
# ---------------------------------------------------------------------------

_TABLES = _STAGES + ("metadata_nodes", "metadata_edges")
# stages whose commits land before each table's commit
_DONE_BEFORE = {
    "segments": (),
    "mentions": ("segments",),
    "canonical_map": ("segments", "mentions"),
    "kg_edges": ("segments", "mentions", "canonical_map"),
}


@pytest.fixture(scope="module")
def clean_digests(spark, tmp_path_factory):
    res = run_pipeline(spark, _small_input(spark), str(tmp_path_factory.mktemp("clean")))
    return {k: _table_hash(res[k]) for k in _TABLES}


@pytest.mark.parametrize("table", sorted(_DONE_BEFORE))
def test_commit_fault_then_resume_matches_clean_run(spark, tmp_path, monkeypatch, clean_digests, table):
    """The commit of ``table`` raises once: the run must raise, and a
    resumed rerun must skip every stage committed before the fault and
    end with the clean run's tables."""
    from docs2kg_spark.io.sinks import TableStore

    real_commit = TableStore._commit
    fired = []

    def flaky_commit(self, name, *args, **kwargs):
        if name == table and not fired:
            fired.append(name)
            raise RuntimeError(f"injected fault at the {name} commit")
        return real_commit(self, name, *args, **kwargs)

    monkeypatch.setattr(TableStore, "_commit", flaky_commit)
    df = _small_input(spark)
    wd = str(tmp_path / "kg")
    with pytest.raises(RuntimeError, match="injected fault"):
        run_pipeline(spark, df, wd)
    assert fired == [table]

    res = run_pipeline(spark, df, wd)
    for stage in _DONE_BEFORE[table]:
        assert res["stage_times"][stage] == 0.0, stage
    # kg_nodes and kg_edges are one stage, timed under kg_nodes
    assert res["stage_times"]["kg_nodes" if table == "kg_edges" else table] > 0
    assert {k: _table_hash(res[k]) for k in _TABLES} == clean_digests
