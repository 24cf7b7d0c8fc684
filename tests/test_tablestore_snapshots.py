"""TableStore commit protocol: every ``write`` lands in a fresh snapshot
dir and becomes visible through one atomic log commit that carries the
resume key, so a crash at any point leaves the table readable as its old
or its new version — the copy-on-write model of an Iceberg catalog, on
the parquet stand-in."""

import os

import pytest
from pyspark.sql import functions as F

from docs2kg_spark.io.sinks import TableStore


def _rows(store, name):
    return sorted((r["k"], r["v"]) for r in store.read(name).collect())


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "ts"))


def test_failed_write_keeps_committed_version_and_key(spark, store):
    """A Spark job that fails partway through a second write must leave
    the first version readable and its resume key current."""
    store.write(_kv(spark, [(1, "a"), (2, "b")]), "t", key="k1")
    bad = spark.range(0, 8, numPartitions=2).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("injected fault")))
        .otherwise(F.col("id"))
        .cast("int")
        .alias("k"),
        F.lit("x").alias("v"),
    )
    with pytest.raises(Exception, match="injected fault"):
        store.write(bad, "t", key="k2")
    assert _rows(store, "t") == [(1, "a"), (2, "b")]
    assert store.committed("t", "k1") and not store.committed("t", "k2")
    assert store.exists("t")


def test_expire_commits_log_before_deleting_dirs(spark, store, monkeypatch):
    """``write`` expires the superseded snapshot only after its commit: a
    crash while deleting the old dir leaves the new version current."""
    import shutil

    store.write(_kv(spark, [(1, "x")]), "t", key="k1")

    def crash(*_a, **_k):
        raise OSError("crash mid-delete")

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError):
        store.write(_kv(spark, [(2, "y")]), "t", key="k2")
    monkeypatch.undo()
    assert _rows(store, "t") == [(2, "y")]
    assert store.committed("t", "k2")


def test_vlog_commit_is_atomic(spark, store):
    store.write(_kv(spark, [(1, "a")]), "t", key="k1")
    # no torn .tmp left behind after a successful commit, and the
    # superseded snapshot is gone once a second commit lands
    assert not os.path.exists(os.path.join(store.path("t"), "_version_log.json.tmp"))
    store.write(_kv(spark, [(2, "b")]), "t", key="k2")
    assert sorted(d for d in os.listdir(store.path("t")) if d.startswith("snap-")) == ["snap-2"]


def test_crash_mid_write_leaves_previous_snapshot_current(spark, store):
    """A data dir written WITHOUT the log commit (the crash window of
    ``write``) must be invisible: reads and the resume check still see
    the last committed snapshot."""
    first = store.write(_kv(spark, [(1, "a")]), "t", key="k1")
    # simulate the crash: orphan snap dir, log untouched
    orphan = os.path.join(store.path("t"), "snap-2")
    _kv(spark, [(9, "torn")]).write.parquet(orphan)
    assert _rows(store, "t") == [(1, "a")]
    assert store.committed("t", "k1")
    # the NEXT committed write claims the id deterministically (ids come
    # from the log, not the dirs) and overwrites the orphan dir
    second = store.write(_kv(spark, [(2, "b")]), "t", key="k2")
    assert first.endswith("snap-1") and second == orphan
    assert _rows(store, "t") == [(2, "b")]


def test_uncommitted_first_write_is_not_a_table(spark, store):
    """Before its first commit a table does not exist, even if a killed
    write left parquet files behind."""
    _kv(spark, [(9, "torn")]).write.parquet(os.path.join(store.path("t"), "snap-1"))
    assert not store.exists("t") and not store.committed("t", None)
    store.write(_kv(spark, [(1, "a")]), "t")
    assert store.exists("t") and _rows(store, "t") == [(1, "a")]


def test_write_rows_commits_through_the_log(spark, store):
    store.write_rows([(1, "a")], "k int, v string", "t", key="k1")
    store.write_rows([], "k int, v string", "t", key="k2")
    assert _rows(store, "t") == [] and store.committed("t", "k2")
    assert store.partition_counts("t") == [(0, 0)]
