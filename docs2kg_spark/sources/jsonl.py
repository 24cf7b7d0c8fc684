"""JSONL transcript source with corrupt-record capture.

The reference ingests loose files and swallows per-file failures inside
its batch loop (cli.py:208-213).  The engine's equivalent ingest surface
reads newline-delimited JSON transcripts into the contract schema
(BASELINE.json::input_hint) and captures malformed lines as quarantine
rows instead of dropping them silently or killing the job — the same
visible-quarantine policy the batch and micro-batch paths apply to
null-keyed rows (plans/pipeline.py::split_quarantine, their one rule).

Scale design: read lines with `spark.read.text` and parse with
`from_json` against an EXPLICIT schema (no sampling inference pass over
100 TB) in PERMISSIVE mode with a corrupt-record field — a malformed or
type-mismatched line yields a struct whose corrupt field holds the raw
line, split off with one filter.  This formulation deliberately avoids
`spark.read.json`'s internal `_corrupt_record` column, whose queries
Spark disallows unless the parsed frame is cached first (caching 100 TB
to quarantine a few bad lines is not a plan); `from_json` output is an
ordinary struct column with no such restriction, the parse stays one
narrow whole-stage-codegen'd pass, and only the line column is read."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docs2kg_spark.plans.pipeline import INPUT_DDL, INPUT_SCHEMA

_CORRUPT = "_corrupt_record"


def read_transcripts_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """→ (good, corrupt): `good` carries the contract schema; `corrupt`
    carries (raw_line, quarantine_reason) for every rejected line.
    Blank lines are dropped (they are separators, not records)."""
    lines = spark.read.text(path).filter(F.trim("value") != "")
    parsed = lines.select(
        F.col("value"),
        F.from_json(
            "value",
            f"{INPUT_DDL}, {_CORRUPT} string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("r"),
    )
    bad = F.col("r").isNull() | F.col(f"r.{_CORRUPT}").isNotNull()
    good = parsed.filter(~bad).select(*[F.col(f"r.{f}").alias(f) for f in INPUT_SCHEMA])
    corrupt = parsed.filter(bad).select(
        F.col("value").alias("raw_line"),
        F.lit("malformed json line").alias("quarantine_reason"),
    )
    return good, corrupt
