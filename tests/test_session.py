"""The session's generated-code cache and the Arrow rule for driver-side
frames (docs2kg_spark/session.py)."""

from __future__ import annotations

from test_graphq import _jobs_run_by

from docs2kg_spark.config import Ontology, PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.linking import _cc_driver_side, build_canonical_map
from docs2kg_spark.operators.ontology_gen import load_ontology, save_ontology
from docs2kg_spark.plans import run_pipeline
from docs2kg_spark.streaming.incremental import _read_or_empty


def _compiles(spark) -> int:
    """Janino compiles this JVM has run so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_identical_build_compiles_no_code(spark, transcripts_df, tmp_path):
    # one build generates more classes than Spark's default cache holds;
    # the session's cache keeps them, so a rebuild reuses every class
    run_pipeline(spark, transcripts_df, str(tmp_path / "a"), resume=False)
    before = _compiles(spark)
    run_pipeline(spark, transcripts_df, str(tmp_path / "b"), resume=False)
    assert _compiles(spark) - before == 0


def test_driver_side_frames_plan_as_local_scans(spark, tmp_path):
    # a Python-list frame plans as Scan ExistingRDD and costs one
    # Python-worker task per slice; these must come through Arrow
    nodes = spark.range(4).selectExpr("concat('n', id) AS node_id")
    edges = spark.sql("SELECT * FROM VALUES ('n0', 'n1'), ('n2', 'n3') AS t(a, b)")
    mentions = spark.sql(
        "SELECT * FROM VALUES ('Acme Corp', 'Organization', 'c1'), ('Acme Corp.', 'Organization', 'c2')"
        " AS t(text, label, conv_id)"
    )
    cmap, block_stats = build_canonical_map(mentions, spark, PipelineConfig())
    empty = _read_or_empty(spark, TableStore(spark, str(tmp_path)), "missing", "a string, b string")
    labels = _cc_driver_side(nodes, edges)
    assert sorted(map(tuple, labels.collect())) == [("n0", "n0"), ("n1", "n0"), ("n2", "n2"), ("n3", "n2")]
    assert cmap.count() == 2 and block_stats.count() == 1 and empty.count() == 0
    for df in (labels, cmap, block_stats, empty):
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_save_ontology_starts_no_spark_job(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "onto"))
    onto = Ontology(
        entity_types=("Chemical", "Person"),
        relation_types=("Uses",),
        connections=(("Uses", "Person", "Chemical"),),
    )
    assert _jobs_run_by(spark, lambda: save_ontology(store, onto)) == 0
    assert load_ontology(store) == onto
