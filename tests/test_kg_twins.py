"""The KG-stage DuckDB twins against the tables run_pipeline writes.

One input, defined once: TRANSCRIPTS_CTE over the sf0.001 `documents`
table.  DuckDB builds it, with a constant `ts`, to feed run_pipeline
(Spark); the twins (DuckDB) derive the same rows from the same CTE.

Compare rules: the twin's column names must equal the table's leading
columns positionally (kg_nodes and kg_edges carry trailing columns the
twins do not compute), and rows are compared as multisets after
rounding floats to 9 places.

Parametrized over both linking routes: at this scale the default config
links on the driver; zero thresholds force the distributed MinHash-LSH +
verify + connected-components route.
"""

from collections import Counter
from functools import partial

import duckdb
import pytest

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.oracle.sql_twins import (
    TRANSCRIPTS_CTE,
    kg_canonical_map_sql,
    kg_edges_sql,
    kg_mentions_sql,
    kg_metadata_edges_sql,
    kg_nodes_sql,
    kg_segments_sql,
    kg_triples_sql,
)
from docs2kg_spark.plans import run_pipeline

DOCUMENTS = "/root/testdata/sf0.001/documents.parquet"

TWINS = {
    table: partial(sql, TRANSCRIPTS_CTE)
    for table, sql in {
        "segments": kg_segments_sql,
        "mentions": kg_mentions_sql,
        "triples": kg_triples_sql,
        "canonical_map": kg_canonical_map_sql,
        "kg_nodes": kg_nodes_sql,
        "kg_edges": kg_edges_sql,
        "metadata_edges": kg_metadata_edges_sql,
    }.items()
}

CONFIGS = {
    "driver_linking": PipelineConfig(),
    "distributed_linking": PipelineConfig(linking_driver_max_nodes=0, cc_driver_max_edges=0),
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DOCUMENTS}'")
    transcripts = con.execute(
        f"WITH {TRANSCRIPTS_CTE} "
        "SELECT *, TIMESTAMP '2025-01-01 00:00:00' AS ts FROM transcripts"
    ).arrow()
    yield con, transcripts
    con.close()


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


@pytest.fixture(scope="module", params=sorted(CONFIGS))
def built(request, spark, duck, tmp_path_factory):
    _, transcripts = duck
    cfg = CONFIGS[request.param]
    workdir = str(tmp_path_factory.mktemp(request.param))
    return run_pipeline(spark, spark.createDataFrame(transcripts), workdir, cfg, resume=False)


@pytest.mark.parametrize("table", list(TWINS))
def test_table_equals_twin(built, duck, table):
    con, _ = duck
    res = con.execute(TWINS[table]())
    cols = [d[0] for d in res.description]
    want = Counter(tuple(_norm(v) for v in r) for r in res.fetchall())
    df = built[table]
    assert [c.lower() for c in df.columns[: len(cols)]] == [c.lower() for c in cols], (
        f"{table}: column order/name mismatch {cols} vs {df.columns}"
    )
    got = Counter(tuple(_norm(v) for v in r) for r in df.select(*cols).collect())
    assert sum(got.values()) == sum(want.values()), (
        f"{table}: {sum(got.values())} rows vs twin {sum(want.values())}"
    )
    assert got == want, f"{table}: first diff {next(iter((got - want) or (want - got)))}"
