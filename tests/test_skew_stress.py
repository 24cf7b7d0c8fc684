"""Hot-key skew stress (round-4 verdict item 1, skew leg).

The degenerate shapes SURVEY §4.3.1 names — one conversation holding a
large share of all turns, one entity surface in a large share of
segments, one dominant event user — exercised end-to-end:

- pipeline P/R stays 1.0/1.0 vs the reference-faithful oracle on an
  extreme fixture (one conv = ~10× every other conv combined, one
  surface in ~90% of its turns);
- the skewed driver-shaped tables from fixtures.stress keep the
  invariants the linking/dedup stages promise (clusters never mix
  labels; exact-dup groups found at the hot source).
"""

import numpy as np
import pytest

from docs2kg_spark.config import DEFAULT_GAZETTEER, PipelineConfig
from docs2kg_spark.fixtures import gen_transcripts
from docs2kg_spark.operators.evaluate import triple_pr
from docs2kg_spark.oracle import ReferenceOracle
from docs2kg_spark.plans import run_pipeline


def _skewed_rows(n_hot_turns=1500, seed=11):
    """Background corpus + one giant conversation dominated by one
    surface (hot conv ≈ 5× all other turns together)."""
    rows = gen_transcripts(n_convs=30, mean_turns=10, seed=seed)
    hot = DEFAULT_GAZETTEER[0][0]
    other = DEFAULT_GAZETTEER[1][0]
    from datetime import datetime, timedelta, timezone

    base = datetime(2025, 2, 1, tzinfo=timezone.utc)
    for ti in range(n_hot_turns):
        e1 = hot if ti % 10 else other  # ~90% hot surface
        rows.append({
            "conv_id": "conv-hot",
            "turn_idx": ti,
            "role": ("user", "assistant", "system", "tool")[ti % 4],
            "text": f"status update - {hot}; owner is {e1}.",
            "tool": "search" if ti % 4 == 3 else None,
            "ts": base + timedelta(seconds=ti),
        })
    return rows


@pytest.fixture(scope="module")
def skew_pipeline(spark, tmp_path_factory):
    rows = _skewed_rows()
    wd = str(tmp_path_factory.mktemp("skew_wd"))
    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    res = run_pipeline(spark, spark.createDataFrame(pdf), wd, resume=False)
    return rows, res


def test_skewed_pipeline_pr_is_perfect(spark, skew_pipeline):
    rows, res = skew_pipeline
    golden_rows = ReferenceOracle().run(rows)["triples"]
    golden = spark.createDataFrame(
        [(t["subj"], t["pred"], t["obj"]) for t in golden_rows],
        "subj string, pred string, obj string",
    )
    pr = triple_pr(res["triples"], golden)
    assert pr["precision"] == 1.0, pr
    assert pr["recall"] == 1.0, pr
    # the hot conversation really dominates the fixture
    n_hot = sum(1 for r in rows if r["conv_id"] == "conv-hot")
    assert n_hot / len(rows) > 0.75


def test_aqe_skew_join_backstop_is_on(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_skewed_tables_keep_linking_and_dedup_invariants(spark, tmp_path):
    from docs2kg_spark.fixtures.stress import gen_tables
    from docs2kg_spark.queries import SPARK_QUERIES

    out = str(tmp_path / "skewfix")
    gen_tables(
        spark, out, scale=0.01,
        skew={"hot_user_frac": 0.3, "hot_source_frac": 0.5, "hot_doc_frac": 0.2},
    )
    # hot shapes actually present
    docs = spark.read.parquet(f"{out}/documents.parquet")
    n = docs.count()
    n_hot_conv = docs.filter("doc_id % 50 = 0").count()
    assert n_hot_conv / n > 0.15
    ev = spark.read.parquet(f"{out}/events.parquet")
    assert ev.filter("user_id = 7").count() / ev.count() > 0.25

    # canonical clusters never mix labels, even with the hot surface
    cmap = SPARK_QUERIES["kg_canonical_map"](spark, out)
    from pyspark.sql import functions as F

    mixed = (
        cmap.groupBy("canonical_id")
        .agg(F.countDistinct("label").alias("nl"))
        .filter("nl > 1")
        .count()
    )
    assert mixed == 0

    # exact-dup groups exist and are found under the hot source
    groups = SPARK_QUERIES["fingerprint_groups"](spark, out)
    assert groups.filter("n_docs >= 2").count() > 0

    # the hot user dominates the events-keyed salted two-phase count
    from docs2kg_spark.functions.skew import salted_count

    counts = {r["k"]: r["n"] for r in
              salted_count(ev.selectExpr("user_id AS k"), "k", n_salts=8).collect()}
    assert counts[7] == ev.filter("user_id = 7").count()


def test_stress_generator_is_partitioning_invariant(spark, tmp_path):
    """Every value is a pure function of (row id, seed): generating the
    same fixture at different parallelism must produce identical tables
    (the determinism contract fixtures/stress.py promises)."""
    from docs2kg_spark.fixtures.stress import gen_tables

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen_tables(spark, a, scale=0.002, partitions=2)
    gen_tables(spark, b, scale=0.002, partitions=7)
    for t in ("documents", "events", "embeddings", "lineitem"):
        da = spark.read.parquet(f"{a}/{t}.parquet")
        db = spark.read.parquet(f"{b}/{t}.parquet")
        assert da.count() == db.count()
        assert da.exceptAll(db).count() == 0, t
        assert db.exceptAll(da).count() == 0, t


def test_hundred_thousand_turn_conversation_bucketed(spark):
    """The north_rule's literal long-conversation degenerate: ONE
    conversation with 10^5 turns.  The bucketed segmentation must (a)
    produce byte-identical output to the plain single-reducer window,
    and (b) actually spread the conversation — its big window
    partitions on (conv_id, bucket), never conv_id alone."""
    from pyspark.sql import functions as F

    from docs2kg_spark.operators.segments import (
        segment_transcripts,
        segment_transcripts_bucketed,
    )

    n = 100_000
    t = (
        spark.range(n)
        .select(
            F.lit("conv-giant").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
                (F.col("id") % 4 + 1).cast("int"),
            ).alias("role"),
            # every 97th turn whitespace-only (exercises the skip rule's
            # interaction with prefix offsets mid-bucket)
            F.when(F.col("id") % 97 == 0, F.lit("   ")).otherwise(
                F.concat(F.lit("turn body number "), F.col("id"))
            ).alias("text"),
            F.when(F.col("id") % 4 == 3, F.lit("search")).alias("tool"),
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
        )
        .repartition(8)
    )
    plain = segment_transcripts(t)
    bucketed = segment_transcripts_bucketed(t, bucket_turns=10_000)
    # (b) plan shape: the local window partitions on the bucket column
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "_b" in plan
    # (a) exact parity at 10^5 rows
    cols = plain.columns
    p = sorted(tuple(r[c] for c in cols) for r in plain.collect())
    b = sorted(tuple(r[c] for c in cols) for r in bucketed.collect())
    assert len(p) == n - (n // 97 + 1)  # whitespace turns skipped
    assert p == b
