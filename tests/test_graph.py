import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from docs2kg_spark.functions.labels import sanitize_label_col, sanitize_label_py
from docs2kg_spark.operators.graph import layout_edges, materialize_kg, metadata_kg
from docs2kg_spark.operators.linking import build_canonical_map
from docs2kg_spark.operators.mentions import extract_fused
from docs2kg_spark.operators.segments import segment_transcripts
from docs2kg_spark.oracle.graph import layout_edges_oracle


def test_layout_edges_parity_fixture(spark, transcripts_df, oracle_result):
    segs = segment_transcripts(transcripts_df)
    got = {(r.src, r.dst, r.type) for r in layout_edges(segs).collect()}
    want = set(layout_edges_oracle(oracle_result["segments"]))
    assert got == want


def test_layout_edges_nested_headers(spark):
    """crafted H1..H3 sequences exercise the header-stack logic the
    fixture's single-level headers don't."""
    labels = ["H1", "P", "H2", "P", "CODE", "H3", "P", "H2", "P", "H1", "CODE", "P", "P"]
    segs = [
        {"conv_id": "c", "seg_id": f"s{i}", "seg_idx": i, "label": lab, "text": f"t{i}"}
        for i, lab in enumerate(labels)
    ]
    df = spark.createDataFrame(
        [(s["conv_id"], s["seg_id"], s["seg_idx"], s["label"], s["text"]) for s in segs],
        "conv_id string, seg_id string, seg_idx int, label string, text string",
    )
    got = {(r.src, r.dst, r.type) for r in layout_edges(df).collect()}
    want = set(layout_edges_oracle(segs))
    assert got == want


def test_sanitize_label_examples():
    assert sanitize_label_py("Project Code") == "PROJECT_CODE"
    assert sanitize_label_py("my-label") == "MY_LABEL"
    assert sanitize_label_py("1st Heading") == "ST_HEADING1"
    assert sanitize_label_py("123") == "123"
    assert sanitize_label_py("12_3ab") == "AB12_3"


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), min_size=0, max_size=12))
def test_sanitize_label_py_matches_reference_algorithm(label):
    """property: the python port equals a direct transliteration of
    neo4j_loader.py:411-433."""
    sanitized = label.replace(" ", "_").replace("-", "_").upper()
    if sanitized and sanitized[0].isdigit():
        leading = ""
        i = 0
        while i < len(sanitized) and (sanitized[i].isdigit() or sanitized[i] == "_"):
            leading += sanitized[i]
            i += 1
        want = f"{sanitized[i:]}{leading}" if i < len(sanitized) else sanitized
    else:
        want = sanitized
    assert sanitize_label_py(label) == want


def test_sanitize_label_col_matches_py(spark):
    labels = ["Project Code", "my-label", "1st Heading", "123", "12_3ab", "H1", "a-1 b", "9-to-5"]
    df = spark.createDataFrame([(x,) for x in labels], "label string")
    got = {r.label: r.s for r in df.select("label", sanitize_label_col("label").alias("s")).collect()}
    for lab in labels:
        assert got[lab] == sanitize_label_py(lab), lab


def test_materialize_kg_invariants(spark, transcripts_df):
    segs = segment_transcripts(transcripts_df).cache()
    _, m, t = extract_fused(segs, spark)
    m = m.cache()
    cmap, _ = build_canonical_map(m, spark)
    nodes, edges = materialize_kg(segs, m, t, cmap)
    nodes = nodes.cache()
    edges = edges.cache()
    # every edge endpoint exists as a node (no dangling edges)
    node_ids = nodes.select(F.col("node_id").alias("x"))
    dangling_src = edges.join(node_ids, edges.src == F.col("x"), "left_anti").count()
    dangling_dst = edges.join(node_ids, edges.dst == F.col("x"), "left_anti").count()
    assert dangling_src == 0 and dangling_dst == 0
    # only canonical entities materialize
    assert nodes.filter(F.col("node_id") != F.col("canonical_id")).count() == 0
    # every segment has exactly one CONTAINS parent
    n_segs = segs.count()
    assert edges.filter(F.col("type") == "CONTAINS").count() == n_segs


def test_metadata_kg_vs_duckdb(spark):
    """generic MetadataKG over the documents testdata table, checked
    against a DuckDB twin (distinct value nodes + HAS_* edges; n_chars
    is continuous → Document property, lang/source categorical)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").drop("text")
    nodes, edges = metadata_kg(docs, id_col="doc_id")
    got_nodes = {(r.id, r.type) for r in nodes.collect()}
    got_edges = {(r.source, r.target, r.type) for r in edges.collect()}

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'")
    want_nodes = {(f"doc_{r[0]}", "Document") for r in con.execute("SELECT doc_id FROM documents").fetchall()}
    for c in ("lang", "source"):
        want_nodes |= {
            (f"{c}_{r[0]}", c)
            for r in con.execute(f"SELECT DISTINCT {c} FROM documents WHERE {c} IS NOT NULL").fetchall()
        }
    want_edges = set()
    for c in ("lang", "source"):
        want_edges |= {
            (f"doc_{r[0]}", f"{c}_{r[1]}", f"HAS_{c.upper()}")
            for r in con.execute(f"SELECT doc_id, {c} FROM documents WHERE {c} IS NOT NULL").fetchall()
        }
    assert got_nodes == want_nodes
    assert got_edges == want_edges


def test_layout_edges_custom_schema(spark):
    # per-project containment schema (the schema.json analog): with an
    # empty schema a P after another P can no longer nest under the
    # previous element and must fall back to the last prior header
    from docs2kg_spark.operators.graph import layout_edges
    from docs2kg_spark.operators.segments import segment_transcripts

    rows = [
        ("c1", 0, "system", "title", None, None),
        ("c1", 1, "user", "para one", None, None),
        ("c1", 2, "tool", "code block", "t", None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    segs = segment_transcripts(t)
    by_id = {r.seg_id: r.label for r in segs.collect()}

    def edge_labels(schema):
        out = set()
        for e in layout_edges(segs, schema).collect():
            if e.type == "CONTAINS":
                out.add((by_id.get(e.src, "FILE"), by_id[e.dst]))
        return out

    default = edge_labels(None)
    # default schema: CODE nests under the preceding P
    assert ("P", "CODE") in default
    # custom schema forbidding P→CODE: CODE reparents to the H1 header
    custom = edge_labels({"H1": ("P", "CODE")})
    assert ("P", "CODE") not in custom and ("H1", "CODE") in custom
