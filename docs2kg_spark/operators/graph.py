"""Graph materialization: segments/mentions/triples/canonical_map →
kg_nodes / kg_edges tables (the Neo4j-loadable analog of
utils/neo4j_loader.py:232-433, built as tables instead of per-node bolt
round-trips), plus the MetadataKG derivation
(kg_construction/metadata_kg/metadata_kg.py).

Layout hierarchy semantics reproduced from neo4j_loader.py:272-364:
- every element gets a CONTAINS edge from its parent: headers attach to
  the most recent prior header of a strictly lower level (the header
  stack collapses to exactly this — a pop happens only when a new
  header arrives, so the stack top is always the most recent header
  with a lower level), else the File node;
- non-headers attach to the previous element if the layout schema says
  prev_label may contain current label (neo4j_loader.py:294-303), else
  to the most recent prior header (stack top), else the File node;
- consecutive same-label elements get a NEXT edge
  (neo4j_loader.py:353-364);
- node labels are sanitized (neo4j_loader.py:411-433).

All of it is window functions + conditional running-lasts over the one
(conv_id, seg_idx) ordering — no Python, no shuffle beyond the window's
partitioning (already the conversation partitioning every stage shares).

Canonical redirection reproduces merge_entities (neo4j_loader.py:177-208):
edges whose dst was a duplicate become HAS_ENTITY onto the survivor;
edges whose src was a duplicate become RELATES_TO from the survivor
(the outgoing pass runs after the incoming pass, so src-redirection
wins when both ends moved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docs2kg_spark.functions.ids import det_id_col, entity_node_id
from docs2kg_spark.functions.labels import sanitize_label_col
from docs2kg_spark.session import driver_frame

# parent → allowed children (the transcript analog of the layout schema
# written at layout_kg.py:127-147): a header section contains paragraphs
# and code blocks; a paragraph may contain a code block.  This is the
# DEFAULT; a per-project schema (the analog of the reference's
# schema.json) can be supplied to layout_edges/materialize_kg.
LAYOUT_SCHEMA: dict[str, tuple[str, ...]] = {"H1": ("P", "CODE"), "P": ("CODE",)}
MAX_HEADER_LEVEL = 6


def _containment_cond(prev_label, label, schema: dict[str, tuple[str, ...]]):
    cond = F.lit(False)
    for parent, children in schema.items():
        cond = cond | ((prev_label == parent) & label.isin(*children))
    return cond


def layout_edges(
    segments: DataFrame, schema: dict[str, tuple[str, ...]] | None = None
) -> DataFrame:
    """CONTAINS + NEXT edges over the segment sequence of each conv.
    ``schema`` maps parent label → allowed child labels (defaults to
    LAYOUT_SCHEMA), mirroring the per-project schema.json the reference
    writes at layout_kg.py:127-147."""
    schema = LAYOUT_SCHEMA if schema is None else schema
    w = Window.partitionBy("conv_id").orderBy("seg_idx")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)

    is_header = F.col("label").rlike("^H[1-6]$")
    level = F.when(is_header, F.substring("label", 2, 1).cast("int"))

    df = segments.withColumn("is_header", is_header).withColumn("level", level)

    # most recent prior header of each level: struct(seg_idx, seg_id)
    for k in range(1, MAX_HEADER_LEVEL + 1):
        df = df.withColumn(
            f"_h{k}",
            F.last(
                F.when(F.col("label") == f"H{k}", F.struct(F.col("seg_idx").alias("pos"), F.col("seg_id").alias("id"))),
                ignorenulls=True,
            ).over(wprev),
        )
    # most recent prior header of ANY level (the stack top)
    df = df.withColumn(
        "_hany",
        F.last(F.when(F.col("is_header"), F.col("seg_id")), ignorenulls=True).over(wprev),
    )
    df = df.withColumn("_prev_label", F.lag("label").over(w)).withColumn(
        "_prev_seg", F.lag("seg_id").over(w)
    )

    # header parent: greatest(non-null) prior header struct among levels < k
    header_parent = F.lit(None).cast("string")
    for k in range(MAX_HEADER_LEVEL, 1, -1):
        cands = [F.col(f"_h{j}") for j in range(1, k)]
        best = cands[0] if len(cands) == 1 else F.greatest(*cands)
        header_parent = F.when(F.col("level") == k, best["id"]).otherwise(header_parent)
    # level-1 headers always attach to the File node (null → file)

    nonheader_parent = F.coalesce(
        F.when(_containment_cond(F.col("_prev_label"), F.col("label"), schema), F.col("_prev_seg")),
        F.col("_hany"),
    )

    file_id = det_id_col(F.lit("file"), F.col("conv_id"))
    parent = F.coalesce(
        F.when(F.col("is_header"), header_parent).otherwise(nonheader_parent), file_id
    )

    # emit CONTAINS and (conditionally) NEXT from ONE pass: a union of
    # two selects would recompute the whole 7-window subtree per branch
    # (verified with .explain — the union duplicated every Window/Sort);
    # instead build a per-row edge array and explode it once.
    contains_edge = F.struct(
        parent.alias("src"),
        F.col("seg_id").alias("dst"),
        F.lit("CONTAINS").alias("type"),
        F.col("conv_id").alias("conv_id"),
        F.to_json(F.struct(F.col("seg_idx").alias("sequence"))).alias("properties"),
    )
    next_edge = F.when(
        F.col("_prev_label") == F.col("label"),
        F.struct(
            F.col("_prev_seg").alias("src"),
            F.col("seg_id").alias("dst"),
            F.lit("NEXT").alias("type"),
            F.col("conv_id").alias("conv_id"),
            F.lit("{}").alias("properties"),
        ),
    )
    return (
        df.select(F.explode_outer(F.array(contains_edge, next_edge)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("e.src", "e.dst", "e.type", "e.conv_id", "e.properties")
    )


def static_kg_parts(
    segments: DataFrame, layout_schema: dict[str, tuple[str, ...]] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Canonicalization-INDEPENDENT slice of the KG: file + segment nodes
    and the structural CONTAINS/NEXT edges.  These depend only on the
    segment rows of their own conversation — never on entity linking —
    but need each conversation's whole ordered segment list (seg_idx).
    Returns
    (static_nodes(conv_id, node_id, canonical_id, type, properties),
     struct_edges(src, dst, type, conv_id, properties)); materialize_kg
    drops the conv_id column on nodes."""
    file_nodes = (
        segments.select("conv_id")
        .distinct()
        .select(
            F.col("conv_id"),
            det_id_col(F.lit("file"), "conv_id").alias("node_id"),
            det_id_col(F.lit("file"), "conv_id").alias("canonical_id"),
            F.lit("FILE").alias("type"),
            F.to_json(F.struct(F.col("conv_id"))).alias("properties"),
        )
    )

    seg_nodes = segments.select(
        F.col("conv_id"),
        F.col("seg_id").alias("node_id"),
        F.col("seg_id").alias("canonical_id"),
        sanitize_label_col("label").alias("type"),
        F.to_json(
            F.struct(F.col("text"), F.col("seg_idx").alias("sequence"), F.col("conv_id"))
        ).alias("properties"),
    )

    struct_edges = layout_edges(segments, layout_schema)
    return file_nodes.unionByName(seg_nodes), struct_edges


def entity_kg_parts(
    mentions: DataFrame, triples: DataFrame, canonical_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Canonicalization-DEPENDENT slice of the KG: surviving entity nodes
    plus the HAS_ENTITY / relation edges redirected through
    canonical_map.  Depends on seg_idx nowhere: mentions and triples key
    on the content-addressed seg_id.  Returns
    (entity_nodes(node_id, canonical_id, type, properties),
     entity_edges(src, dst, type, conv_id, properties))."""
    # entity nodes: only canonical survivors materialize (the analog of
    # DELETE duplicate at neo4j_loader.py:210-217); survivor surface =
    # the canonical node's own (text,label)
    entity_nodes_df = (
        canonical_map.filter(F.col("node_id") == F.col("canonical_id"))
        .select(
            F.col("node_id"),
            F.col("canonical_id"),
            sanitize_label_col("label").alias("type"),
            F.to_json(F.struct(F.col("text"), F.col("label"))).alias("properties"),
        )
    )

    cmap = canonical_map.select("node_id", "canonical_id")

    has_entity = (
        mentions.withColumn("raw_dst", entity_node_id("text", "label"))
        .join(cmap, on=F.col("raw_dst") == cmap.node_id, how="left")
        .select(
            F.col("seg_id").alias("src"),
            F.coalesce("canonical_id", "raw_dst").alias("dst"),
            F.lit("HAS_ENTITY").alias("type"),
            F.col("conv_id"),
            F.to_json(
                F.struct(F.col("confidence"), F.col("method"), F.col("start"), F.col("end"))
            ).alias("properties"),
        )
    )

    rel = (
        triples.withColumn("raw_src", entity_node_id("subj", "subj_label"))
        .withColumn("raw_dst", entity_node_id("obj", "obj_label"))
        .join(cmap.withColumnRenamed("canonical_id", "canon_src"), on=F.col("raw_src") == cmap.node_id, how="left")
        .drop("node_id")
        .join(
            cmap.withColumnRenamed("canonical_id", "canon_dst").withColumnRenamed("node_id", "node_id2"),
            on=F.col("raw_dst") == F.col("node_id2"),
            how="left",
        )
        .withColumn("canon_src", F.coalesce("canon_src", "raw_src"))
        .withColumn("canon_dst", F.coalesce("canon_dst", "raw_dst"))
        # merge-redirection type rewrite (neo4j_loader.py:177-208):
        # incoming pass first (dst moved → HAS_ENTITY), then outgoing
        # pass overrides (src moved → RELATES_TO)
        .withColumn(
            "type",
            F.when(F.col("canon_src") != F.col("raw_src"), F.lit("RELATES_TO"))
            .when(F.col("canon_dst") != F.col("raw_dst"), F.lit("HAS_ENTITY"))
            .otherwise(F.col("pred")),
        )
        .select(
            F.col("canon_src").alias("src"),
            F.col("canon_dst").alias("dst"),
            "type",
            F.col("conv_id"),
            F.to_json(F.struct(F.col("confidence"), F.col("seg_id"))).alias("properties"),
        )
    )

    return entity_nodes_df, has_entity.unionByName(rel)


def materialize_kg(
    segments: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    canonical_map: DataFrame,
    layout_schema: dict[str, tuple[str, ...]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (kg_nodes(node_id, canonical_id, type, properties),
          kg_edges(src, dst, type, conv_id, properties)).
    ``layout_schema`` overrides the default containment schema
    (see layout_edges).  Composition of static_kg_parts (structure) and
    entity_kg_parts (canonicalized entity graph)."""
    static_nodes, struct_edges = static_kg_parts(segments, layout_schema)
    entity_nodes_df, entity_edges = entity_kg_parts(mentions, triples, canonical_map)
    kg_nodes = static_nodes.drop("conv_id").unionByName(entity_nodes_df)
    kg_edges = struct_edges.unionByName(entity_edges)
    return kg_nodes, kg_edges


# --------------------------------------------------------------------------
# MetadataKG (generic; mirrors metadata_kg.py semantics over any DataFrame)
# --------------------------------------------------------------------------

_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC_TYPES


def split_column_types(df: DataFrame, id_col: str, threshold: float = 0.5) -> tuple[list[str], list[str]]:
    """continuous vs categorical columns, per metadata_kg.py:27-39:
    continuous ⇔ unique_ratio > threshold AND numeric dtype.  Unique
    counts include the null (pandas .unique() counts NaN); computed in
    ONE aggregate pass over the table."""
    cols = [c for c, _ in df.dtypes if c != id_col and not c.startswith("Unnamed")]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        aggs.append(F.max(F.col(c).isNull().cast("int")).alias(f"_null_{c}"))
    row = df.agg(*aggs).collect()[0]
    n = row["_n"] or 1
    dtypes = dict(df.dtypes)
    continuous, categorical = [], []
    for c in cols:
        uniq = row[f"_d_{c}"] + row[f"_null_{c}"]
        if uniq / n > threshold and _is_numeric(dtypes[c]):
            continuous.append(c)
        else:
            categorical.append(c)
    return continuous, categorical


def metadata_kg(df: DataFrame, id_col: str, threshold: float = 0.5) -> tuple[DataFrame, DataFrame]:
    """→ (nodes(id, type, properties), relationships(source, target, type))
    mirroring metadata_kg.py:56-166: one Document node per row with the
    continuous columns as properties; one value node per distinct
    non-null categorical value; HAS_<COLUMN> edges."""
    continuous, categorical = split_column_types(df, id_col, threshold)

    doc_id = F.concat(F.lit("doc_"), F.col(id_col).cast("string"))
    prop_pairs_keys, prop_pairs_vals = [F.lit(id_col)], [F.col(id_col).cast("string")]
    for c in continuous:
        prop_pairs_keys.append(F.lit(c))
        prop_pairs_vals.append(F.col(c).cast("string"))
    doc_nodes = df.select(
        doc_id.alias("id"),
        F.lit("Document").alias("type"),
        F.map_filter(
            F.map_from_arrays(F.array(*prop_pairs_keys), F.array(*prop_pairs_vals)),
            lambda _, v: v.isNotNull(),
        ).alias("properties"),
    )

    value_nodes = None
    edges = None
    for c in categorical:
        vn = (
            df.select(F.col(c).cast("string").alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
            .select(
                F.concat(F.lit(f"{c}_"), F.col("value")).alias("id"),
                F.lit(c).alias("type"),
                F.map_from_arrays(F.array(F.lit("value")), F.array(F.col("value"))).alias("properties"),
            )
        )
        e = (
            df.filter(F.col(c).isNotNull())
            .select(
                doc_id.alias("source"),
                F.concat(F.lit(f"{c}_"), F.col(c).cast("string")).alias("target"),
                F.lit(f"HAS_{c.upper()}").alias("type"),
            )
        )
        value_nodes = vn if value_nodes is None else value_nodes.unionByName(vn)
        edges = e if edges is None else edges.unionByName(e)

    if value_nodes is None:
        value_nodes = doc_nodes.limit(0)
        edges = driver_frame(df.sparkSession, "source string, target string, type string")

    return doc_nodes.unionByName(value_nodes), edges


def conversation_metadata_kg(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Conversation-level metadata KG (SURVEY §1.3 D6): the document is a
    conversation; role and tool are its categorical metadata → value
    nodes + HAS_ROLE / HAS_TOOL edges; n_turns is continuous → Document
    property.  Derived with one groupBy + an unpivot, no Python."""
    conv = transcripts.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    doc_nodes = conv.select(
        F.concat(F.lit("doc_"), F.col("conv_id")).alias("id"),
        F.lit("Document").alias("type"),
        F.map_from_arrays(
            F.array(F.lit("conv_id"), F.lit("n_turns")),
            F.array(F.col("conv_id"), F.col("n_turns").cast("string")),
        ).alias("properties"),
    )

    # cast inside the stack: an all-null column arrives from parquet as
    # whatever type the writer inferred (e.g. INT from pyarrow's null
    # type) and stack requires homogeneous branches
    pairs = transcripts.selectExpr(
        "conv_id",
        "stack(2, 'role', cast(role as string), 'tool', cast(tool as string)) as (col, value)",
    ).filter(F.col("value").isNotNull())

    value_nodes = (
        pairs.select("col", "value")
        .distinct()
        .select(
            F.concat_ws("_", "col", "value").alias("id"),
            F.col("col").alias("type"),
            F.map_from_arrays(F.array(F.lit("value")), F.array(F.col("value"))).alias("properties"),
        )
    )
    edges = (
        pairs.select(
            F.concat(F.lit("doc_"), F.col("conv_id")).alias("source"),
            F.concat_ws("_", "col", "value").alias("target"),
            F.concat(F.lit("HAS_"), F.upper("col")).alias("type"),
        )
        .distinct()
    )
    return doc_nodes.unionByName(value_nodes), edges
