"""The session's generated-code cache, the Arrow rule for driver-side
frames, the Python-worker daemon and the derived defaults
(docs2kg_spark/session.py, docs2kg_spark/pyworker.py)."""

from __future__ import annotations

import os
import zipfile

from test_graphq import _jobs_run_by

from docs2kg_spark import session
from docs2kg_spark.config import Ontology, PipelineConfig
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.operators.linking import _cc_driver_side, build_canonical_map
from docs2kg_spark.operators.ontology_gen import load_ontology, save_ontology
from docs2kg_spark.plans import run_pipeline
from docs2kg_spark.pyworker import worker_path
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


def test_worker_imports_pyspark_from_a_directory(spark):
    # Spark's archives first on the path made every task re-read their
    # zip directories (importlib.invalidate_caches per task)
    def imports(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, zips

    [(pyspark_file, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(imports).collect()
    assert os.path.isfile(pyspark_file), pyspark_file
    assert zips == []


def _zip(path, *names):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "")
    return str(path)


def _spark_layout(tmp_path, site_packages=("pyspark", "py4j")):
    """A Spark home with its three archives, seen through a symlink as
    $SPARK_HOME usually is, a user archive and a site dir holding
    ``site_packages``; the worker path Spark builds over them."""
    real = tmp_path / "spark-4.1.2-bin"
    lib = real / "python" / "lib"
    archives = [
        _zip(lib / "pyspark.zip", "pyspark/__init__.py"),
        _zip(lib / "py4j-0.10.9.9-src.zip", "py4j/__init__.py"),
        _zip(real / "jars" / "spark-core_2.13-4.1.2.jar", "org/apache/spark/SparkContext.class"),
    ]
    home = tmp_path / "spark"
    home.symlink_to(real)
    archives[:2] = [str(home / "python" / "lib" / os.path.basename(a)) for a in archives[:2]]
    user = _zip(tmp_path / "user" / "deps.zip", "deps/__init__.py")
    site = tmp_path / "site"
    for pkg in site_packages:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    return str(home), archives, user, [str(tmp_path), *archives, user, str(site)]


def test_worker_path_drops_only_sparks_archives(tmp_path):
    home, archives, user, path = _spark_layout(tmp_path)
    kept = worker_path(path, home)
    assert kept == [p for p in path if p not in archives]
    assert user in kept


def test_worker_path_unchanged_without_directory_pyspark(tmp_path):
    for site_packages, sub in (((), "none"), (("py4j",), "py4j_only"), (("pyspark",), "pyspark_only")):
        (tmp_path / sub).mkdir()
        home, _archives, _user, path = _spark_layout(tmp_path / sub, site_packages)
        assert worker_path(path, home) == path, site_packages
    assert worker_path(path, None) == path


def test_worker_daemon_only_on_local_master_from_directory(spark):
    conf = session.worker_daemon_conf("local[4]", session.__file__)
    assert conf["spark.python.daemon.module"] == "docs2kg_spark.pyworker"
    assert os.path.isdir(os.path.join(conf["spark.executorEnv.PYTHONPATH"], "docs2kg_spark"))
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "docs2kg_spark.pyworker"
    assert session.worker_daemon_conf("yarn", session.__file__) == {}
    assert session.worker_daemon_conf("spark://host:7077", session.__file__) == {}
    assert session.worker_daemon_conf("local[4]", "/jobs/deps.zip/docs2kg_spark/session.py") == {}


def test_local_slots():
    assert session.local_slots("local[*]") == len(os.sched_getaffinity(0))
    assert session.local_slots("local[4]") == 4
    assert session.local_slots("yarn") is None


def test_default_driver_memory_from_stubbed_limit(tmp_path):
    cgroup, meminfo = tmp_path / "memory.max", tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemAvailable:    6291456 kB\n")
    cgroup.write_text("4294967296\n")
    usable = session.usable_memory_bytes(str(cgroup), str(meminfo))
    assert usable == 4 * 2**30 and session.default_driver_memory(usable) == "2048m"
    cgroup.write_text("max\n")
    usable = session.usable_memory_bytes(str(cgroup), str(meminfo))
    assert usable == 6 * 2**30 and session.default_driver_memory(usable) == "3072m"
    assert session.usable_memory_bytes(str(tmp_path / "absent"), str(meminfo)) == 6 * 2**30
    assert session.default_driver_memory(64 * 2**30) == "8192m"
    assert session.default_driver_memory(2**30) == "1024m"
    assert session.default_driver_memory(None) == "8192m"
