"""Round-3 fixes: regression tests for the VERDICT/ADVICE items —
degree-ordered triangle orientation, kmeans→IVF composition, decoder
injection, CC hardening (validation + non-converged invariant), and the
cross-engine explicit-whitespace tokenizer class."""

import duckdb
import pytest
from pyspark.sql import functions as F

from docs2kg_spark.config import PipelineConfig
from docs2kg_spark.operators.graphq import triangle_counts
from docs2kg_spark.operators.linking import connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def test_triangle_orient_degree_parity(spark):
    """Any total order counts each triangle once: the degree orientation
    must produce identical per-node counts to the id orientation on a
    hub-heavy graph (K4 + hub fan + pendant)."""
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    hub = [("h", x) for x in ("a", "b", "p", "q", "r", "s")]  # h-a-b closes one triangle
    noise = [("p", "q"), ("z", "z"), ("a", "b")]  # p-q-h triangle, self-loop, dup
    e = _edges(spark, k4 + hub + noise)
    by_id = {r["node"]: r["triangles"] for r in triangle_counts(e, orient="id").collect()}
    by_deg = {r["node"]: r["triangles"] for r in triangle_counts(e, orient="degree").collect()}
    assert by_id == by_deg
    assert by_id["h"] == 2  # h-a-b and h-p-q
    with pytest.raises(ValueError, match="orient"):
        triangle_counts(e, orient="Degree")


def test_ivf_composes_kmeans_centroids(spark):
    """ivf_topk(centroids=kmeans_refine(...)) — the retraining job the
    docstring defers to — must plug in directly and, on a clustered
    corpus with full probing, reproduce exact brute-force results
    (full probe = every list searched, regardless of centroid quality)."""
    from docs2kg_spark.operators.similarity import brute_force_topk, ivf_topk, kmeans_refine

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    cents = kmeans_refine(e, spark, n_centroids=8, iters=2)
    k_eff = cents.select("cid").distinct().count()  # clusters may drop out
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(e, q, k=3).collect()}
    full = ivf_topk(e, q, k=3, n_probe=k_eff, centroids=cents)
    assert {(r.query_id, r.neighbor_id) for r in full.collect()} == exact
    # partial probe with trained centroids: valid ranks, recall sane (>0)
    part = ivf_topk(e, q, k=3, n_probe=2, centroids=cents).collect()
    assert part and all(1 <= r.rank <= 3 for r in part)
    got = {(r.query_id, r.neighbor_id) for r in part}
    assert got & exact


def test_extract_features_injected_decoder(spark):
    """A user-supplied decode callable flows through the Arrow batches
    without editing the operator (the real_decode seam)."""
    from docs2kg_spark.operators.multimodal import assets_from_documents, extract_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(12)
    assets = assets_from_documents(docs)

    def fake_codec(payload: bytes, kind: str):
        return [float(len(payload or b"")), 1.0 if kind == "image" else 0.0]

    rows = extract_features(assets, decode=fake_codec).collect()
    assert len(rows) == 12
    for r in rows:
        assert r.features == [float(r.n_bytes), 1.0]


def test_cc_star_unconverged_is_still_a_function(spark):
    """Hitting cc_max_rounds mid-convergence may leave non-minimal
    labels (warned), but the returned map must still be one row per
    node — the round-2 form could emit duplicate node_id rows from
    small-star's multi-group (b, m) edges."""
    import warnings

    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)]
    nodes = [f"c{i:02d}" for i in range(31)]
    n = spark.createDataFrame([(x,) for x in nodes], "node_id string")
    e = spark.createDataFrame(chain, "a string, b string")
    cfg = PipelineConfig(cc_max_rounds=1, cc_driver_max_edges=0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # non-convergence warning is expected
        out = connected_components(n, e, cfg).collect()
    ids = [r.node_id for r in out]
    assert sorted(ids) == sorted(nodes)  # exactly one row per node, no dups
    assert all(r.canonical_id is not None for r in out)


def test_ws_tokenizer_vt_parity_with_duckdb(spark):
    """The explicit [ \\t\\n\\r\\f\\x0B]+ class makes Spark (Java regex)
    and DuckDB (RE2) tokenize identically on vertical-tab text — the
    exact input where `\\s` diverges between the two engines."""
    from docs2kg_spark.operators.text import whitespace_token_count

    texts = [
        ("d1", "alpha\x0bbeta gamma"),  # VT: Java \s split it, RE2 \s did not
        ("d2", "one\ttwo\nthree\rfour\ffive six"),
        ("d3", "  padded   runs  "),
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    got = {
        r.doc_id: r.ws_tokens
        for r in df.select(
            "doc_id", whitespace_token_count("text").cast("bigint").alias("ws_tokens")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"('{d}', ?)" for d, _ in texts)
        + ") AS v(doc_id, text)",
        [t for _, t in texts],
    )
    want = dict(
        con.execute(
            r"""SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) END
                FROM t"""
        ).fetchall()
    )
    assert got == want
    assert got["d1"] == 3  # the VT case: both engines must now split it
