"""Driver contract for the spark-graft builder (PySpark target).

entry()       — flagship end-to-end KG query on sf0.001.
queries()     — one callable per implemented operator (SURVEY.md §2 plus
                the training-data / graph-read additions), defined in
                the docs2kg_spark/queries/ package (per-family modules).
oracle_sql()  — a DuckDB twin for every query except the lossy-DCT
                JPEG leg (296/297): the UDF-backed
                stages use mechanically-generated SQL built from the
                same seeded constants (docs2kg_spark/oracle/sql_twins.py),
                and are additionally verified in tests/ against the
                reference-faithful Python oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full KG pipeline (segment → extract mentions →
    co-occurrence triples) over transcripts derived deterministically
    from sf0.001 documents, returning top entity pairs by co-occurrence
    count (SURVEY.md §7 phase-1 flagship)."""
    from docs2kg_spark.operators.mentions import extract_fused
    from docs2kg_spark.operators.segments import segment_transcripts
    from docs2kg_spark.queries import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    _, _, triples = extract_fused(segment_transcripts(t), spark)
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("n_cooccur"))
        .orderBy(F.desc("n_cooccur"), "subj", "pred", "obj")
        .limit(100)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from docs2kg_spark.queries import SPARK_QUERIES

    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    from docs2kg_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
