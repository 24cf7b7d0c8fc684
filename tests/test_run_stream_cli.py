"""jobs/run_stream.py: the streaming maintenance CLI drains a landing
directory and compacts to serve tables that match the batch pipeline."""

import glob
import importlib.util
import json
import os
import shutil

from pyspark.sql import functions as F

from docs2kg_spark.fixtures import transcripts_spark
from docs2kg_spark.io.sinks import TableStore
from docs2kg_spark.plans import run_pipeline

spec = importlib.util.spec_from_file_location(
    "run_stream", os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs", "run_stream.py")
)
run_stream = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run_stream)


def test_stream_cli_drain_and_compact(spark, tmp_path, capsys):
    landing = str(tmp_path / "landing")
    workdir = str(tmp_path / "state")
    df = transcripts_spark(spark, n_convs=40, mean_turns=6, seed=7)
    df.coalesce(2).write.mode("overwrite").parquet(landing)
    # a third file continues one conversation of the first two: its turns
    # reach the stream one micro-batch after the rest of that conversation
    conv = sorted(r.conv_id for r in df.select("conv_id").distinct().collect())[0]
    last = df.filter(F.col("conv_id") == conv).agg(F.max("turn_idx")).first()[0]
    stage = str(tmp_path / "continuation")
    df.filter(F.col("conv_id") == conv).withColumn(
        "turn_idx", F.col("turn_idx") + F.lit(last + 1)
    ).withColumn("text", F.concat(F.col("text"), F.lit(" (continued)"))).coalesce(1).write.parquet(stage)
    shutil.copy(glob.glob(stage + "/part-*.parquet")[0], landing + "/continuation.parquet")

    args = ["--input", landing, "--workdir", workdir, "--compact", "--max-files-per-trigger", "1"]
    rc = run_stream.main(args)
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["drained"] is True
    assert out["kg_nodes"] > 0 and out["kg_edges"] > 0

    # the counts are the store's, and the batch pipeline's over the same
    # rows (full row parity is pinned in test_incremental_kg)
    store = TableStore(spark, workdir)
    assert store.read("kg_nodes").count() == out["kg_nodes"]
    assert store.read("kg_edges").count() == out["kg_edges"]
    batch = run_pipeline(spark, spark.read.parquet(landing), str(tmp_path / "batch"), resume=False)
    assert batch["kg_nodes"].count() == out["kg_nodes"]
    assert batch["kg_edges"].count() == out["kg_edges"]

    # a second drain over the SAME landing dir with the same checkpoint
    # is a no-op (no new files): counts unchanged
    rc = run_stream.main(args)
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["kg_nodes"] == out["kg_nodes"]
    assert out2["kg_edges"] == out["kg_edges"]
