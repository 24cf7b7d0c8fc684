#!/usr/bin/env python
"""spark-submit entry point for the STREAMING KG maintenance path.

Watches a directory of transcript parquet files and maintains the
knowledge graph's inputs incrementally (per-batch segment, mention and
triple delta logs → incremental linking), exactly-once under file
re-delivery (streaming/incremental.py).  A conversation's turns may
arrive in any order, split across files and micro-batches.  After a
drain, --compact builds the kg_nodes/kg_edges serve tables with the batch
pipeline's own segmentation and materialization — the same rows
jobs/run_kg.py produces over the union of all input (parity-tested in
tests/test_incremental_kg.py and tests/test_run_stream_cli.py).

Cluster usage:

    cd /root/repo && zip -r /tmp/docs2kg_spark.zip docs2kg_spark
    spark-submit --py-files /tmp/docs2kg_spark.zip \
        jobs/run_stream.py --input <landing dir> --workdir <state dir> \
        [--follow] [--compact]

Local smoke (drain whatever is in the landing dir, then compact):

    python jobs/run_stream.py --input /tmp/landing --workdir /tmp/kg_state --compact
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcript parquet landing directory")
    p.add_argument("--workdir", required=True, help="KG state directory (TableStore root)")
    p.add_argument("--checkpoint", default=None, help="stream checkpoint dir (default <workdir>/_stream_ckpt)")
    p.add_argument(
        "--follow",
        action="store_true",
        help="run continuously (default: drain available files and stop)",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="after a drain, rebuild kg_nodes/kg_edges serve tables",
    )
    p.add_argument("--max-files-per-trigger", type=int, default=16)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from docs2kg_spark.io.sinks import TableStore
    from docs2kg_spark.session import get_spark
    from docs2kg_spark.streaming.incremental import compact_kg, incremental_kg

    spark = get_spark(app_name="docs2kg_kg_stream", master=args.master)
    ckpt = args.checkpoint or os.path.join(args.workdir, "_stream_ckpt")
    q = incremental_kg(
        spark,
        args.input,
        args.workdir,
        ckpt,
        available_now=not args.follow,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.follow:
        q.awaitTermination()
        return 0
    q.awaitTermination(600)
    out = {"drained": True}
    if args.compact:
        compact_kg(spark, args.workdir)
        store = TableStore(spark, args.workdir)
        out["kg_nodes"] = store.read("kg_nodes").count()
        out["kg_edges"] = store.read("kg_edges").count()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
