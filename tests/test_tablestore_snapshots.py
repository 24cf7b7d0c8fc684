"""TableStore snapshot layer (round-4 verdict item 5): time travel
(read-at-snapshot-id), MERGE-style upsert with Iceberg copy-on-write
semantics, idempotent re-merge, and snapshot expiry — the reads SURVEY
§1.3 promises, on the parquet stand-in behind the same interface a real
Iceberg catalog would serve."""

import pytest

from docs2kg_spark.io.sinks import TableStore


def _rows(store, name, sid=None):
    return sorted(
        (r["k"], r["v"]) for r in store.snapshot_read(name, sid).collect()
    )


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "ts"))


def test_time_travel_reads_each_snapshot(spark, store):
    s1 = store.snapshot_write(spark.createDataFrame([(1, "a")], "k int, v string"), "t")
    s2 = store.snapshot_write(spark.createDataFrame([(1, "b"), (2, "c")], "k int, v string"), "t")
    s3 = store.snapshot_write(spark.createDataFrame([(9, "z")], "k int, v string"), "t")
    assert store.snapshot_ids("t") == [s1, s2, s3]
    assert _rows(store, "t", s1) == [(1, "a")]
    assert _rows(store, "t", s2) == [(1, "b"), (2, "c")]
    assert _rows(store, "t") == [(9, "z")]  # current == latest


def test_merge_upsert_updates_and_inserts(spark, store):
    store.snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"), "t"
    )
    delta = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    sid = store.merge_upsert(delta, "t", keys=["k"])
    assert _rows(store, "t") == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # time travel still sees the pre-merge state
    assert _rows(store, "t", sid - 1) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_is_idempotent_on_replay(spark, store):
    store.snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), "t"
    )
    delta = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    store.merge_upsert(delta, "t", keys=["k"])
    once = _rows(store, "t")
    store.merge_upsert(delta, "t", keys=["k"])  # replayed commit
    assert _rows(store, "t") == once


def test_merge_into_empty_table_is_insert_all(spark, store):
    delta = spark.createDataFrame([(1, "a")], "k int, v string")
    store.merge_upsert(delta, "t", keys=["k"])
    assert _rows(store, "t") == [(1, "a")]


def test_expire_snapshots_prunes_history_keeps_current(spark, store):
    for i in range(4):
        store.snapshot_write(
            spark.createDataFrame([(i, "x")], "k int, v string"), "t"
        )
    expired = store.expire_snapshots("t", keep_last=2)
    assert expired == [1, 2]
    assert store.snapshot_ids("t") == [3, 4]
    assert _rows(store, "t") == [(3, "x")]          # current survives
    assert _rows(store, "t", 3) == [(2, "x")]       # kept history survives
    with pytest.raises(ValueError):
        store.snapshot_read("t", 1)                 # expired id is gone


def test_expire_commits_log_before_deleting_dirs(spark, store, monkeypatch):
    """A crash while deleting expired dirs must leave the log already
    pruned: an expired id reads as gone, not as a half-deleted dir."""
    import shutil

    for i in range(3):
        store.snapshot_write(
            spark.createDataFrame([(i, "x")], "k int, v string"), "t"
        )

    def crash(*_a, **_k):
        raise OSError("crash mid-delete")

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError):
        store.expire_snapshots("t", keep_last=1)
    monkeypatch.undo()
    assert store.snapshot_ids("t") == [3]
    with pytest.raises(ValueError):
        store.snapshot_read("t", 1)


def test_vlog_commit_is_atomic(spark, store, tmp_path):
    store.snapshot_write(spark.createDataFrame([(1, "a")], "k int, v string"), "t")
    # no torn .tmp left behind after a successful commit
    import os

    assert not os.path.exists(store._vlog_path("t") + ".tmp")


def test_crash_mid_write_leaves_previous_snapshot_current(spark, store):
    """A data dir written WITHOUT the log commit (the crash window of
    snapshot_write) must be invisible: current read and snapshot ids
    still reflect the last committed snapshot."""
    import os

    sid = store.snapshot_write(
        spark.createDataFrame([(1, "a")], "k int, v string"), "t"
    )
    # simulate the crash: orphan snap dir, log untouched
    orphan = os.path.join(store.path("t"), f"snap-{sid + 1}")
    spark.createDataFrame([(9, "torn")], "k int, v string").write.parquet(orphan)
    assert store.snapshot_ids("t") == [sid]
    assert _rows(store, "t") == [(1, "a")]
    # the NEXT committed write claims the id deterministically (ids come
    # from the log, not the dirs) and overwrites the orphan dir
    sid2 = store.snapshot_write(
        spark.createDataFrame([(2, "b")], "k int, v string"), "t"
    )
    assert sid2 == sid + 1
    assert _rows(store, "t") == [(2, "b")]
