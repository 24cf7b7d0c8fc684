"""Bucketed tables: the co-located join/aggregate plan shapes and value
parity with the unbucketed plans."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from docs2kg_spark.io.bucketing import write_bucketed

SF = "/root/testdata/sf0.001"


def _ops(df):
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return Counter(re.findall(r"\(\d+\) ([A-Za-z]+)", plan))


@pytest.fixture(scope="module")
def bucketed(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    write_bucketed(orders, "t_orders_b", "o_custkey", 8)
    write_bucketed(cust, "t_cust_b", "c_custkey", 8)
    yield spark.table("t_orders_b"), spark.table("t_cust_b"), orders, cust
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_bucketed_join_is_exchange_free(spark, bucketed):
    ob, cb, _, _ = bucketed
    # disable broadcast so the join strategy is SMJ on both variants
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ob.join(cb, ob["o_custkey"] == cb["c_custkey"]).select(
            "o_orderkey", "c_name"
        )
        ops = _ops(j)
        assert ops["SortMergeJoin"] == 1
        assert ops["Exchange"] == 0  # both sides read pre-bucketed
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_unbucketed_join_pays_two_exchanges(spark, bucketed):
    _, _, orders, cust = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
            "o_orderkey", "c_name"
        )
        assert _ops(j)["Exchange"] == 2  # the cost bucketing pre-pays
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_agg_is_exchange_free(spark, bucketed):
    ob, _, _, _ = bucketed
    agg = ob.groupBy("o_custkey").agg(F.count("*").alias("n"))
    assert _ops(agg)["Exchange"] == 0


def test_value_parity_with_unbucketed(spark, bucketed):
    ob, cb, orders, cust = bucketed
    a = sorted(
        ob.join(cb, ob["o_custkey"] == cb["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    b = sorted(
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# TableStore.compact — small-file compaction for unpartitioned tables
# ---------------------------------------------------------------------------


def test_compact_merges_small_files_and_preserves_rows(spark, tmp_path):
    import os

    from docs2kg_spark.io.sinks import TableStore

    def parquet_files():
        return sum(
            f.endswith(".parquet") for _r, _d, fs in os.walk(store.path("t")) for f in fs
        )

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1000).withColumnRenamed("id", "v")
    # simulate a wide write of many tiny files
    store.write(df.repartition(16), "t")
    before = {tuple(r) for r in store.read("t").collect()}
    assert parquet_files() >= 16

    res = store.compact("t", target_file_bytes=1 << 30)
    assert res["rewritten"] and res["files_after"] == 1
    # one committed snapshot left: the superseded one is deleted
    assert parquet_files() == 1
    assert [d for d in os.listdir(store.path("t")) if d.startswith("snap-")] == ["snap-2"]
    assert {tuple(r) for r in store.read("t").collect()} == before


def test_compact_noop_when_already_packed(spark, tmp_path):
    from docs2kg_spark.io.sinks import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write(spark.range(0, 10).coalesce(1), "t")
    res = store.compact("t", target_file_bytes=1 << 30)
    assert not res["rewritten"] and res["files_before"] == res["files_after"]


def test_compact_refuses_partitioned_delta_logs(spark, tmp_path):
    import pytest as _pytest

    from docs2kg_spark.io.sinks import TableStore

    store = TableStore(spark, str(tmp_path))
    store.append_batch(spark.range(0, 10).withColumnRenamed("id", "v"), "log", 0)
    with _pytest.raises(ValueError, match="partitioned layout"):
        store.compact("log")


def test_compact_preserves_resume_marker(spark, tmp_path):
    """Compaction rewrites bytes, not content: the resume key committed
    before compaction must still be current after."""
    from docs2kg_spark.io.sinks import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write(spark.range(0, 40).repartition(12), "seg", key="fp123")
    assert store.compact("seg", target_file_bytes=1 << 30)["rewritten"]
    assert store.committed("seg", "fp123")
    assert store.read("seg").count() == 40
