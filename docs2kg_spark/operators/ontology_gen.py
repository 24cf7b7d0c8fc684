"""Ontology maintenance.

Reference: load_entity_type unions the gazetteer's entity types with the
ontology's and writes the ontology back when new types appeared
(semantic_kg/base.py:48-84); the LLM variant proposes types from
document text (entity_type_llm.py:48-77).  Driver-side logic over a
distributed aggregate: the distinct-labels aggregation runs on the
cluster, the tiny set union on the driver.  The ontology table is
written by TableStore.write_rows (pyarrow, no Spark job): a Python-list
frame written through Spark would run a job plus one Python-worker task
per slice (~0.02 s of worker CPU each on 4 vCPUs) for a few dozen rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from docs2kg_spark.config import Ontology


def discover_entity_types(mentions: DataFrame) -> list[str]:
    """distinct mention labels, distributed aggregate → driver list."""
    return sorted(r.label for r in mentions.select("label").distinct().collect())


def updated_ontology(mentions: DataFrame, ontology: Ontology) -> tuple[Ontology, bool]:
    """union discovered types with the ontology's
    (set-union semantics of semantic_kg/base.py:73-76); returns
    (ontology, changed)."""
    discovered = set(discover_entity_types(mentions))
    existing = set(ontology.entity_types)
    merged = existing | discovered
    if merged == existing:
        return ontology, False
    return (
        Ontology(
            entity_types=tuple(sorted(merged)),
            relation_types=ontology.relation_types,
            connections=ontology.connections,
        ),
        True,
    )


# ---------------------------------------------------------------------------
# Ontology persistence (reference round-trip: semantic_kg/base.py:60-82
# writes ontology.json back when new types appear and reloads it on the
# next run — without this an incremental ingest forgets discovered types)
# ---------------------------------------------------------------------------

ONTOLOGY_TABLE = "ontology"
_ONTOLOGY_SCHEMA = "kind string, a string, b string, c string"


def save_ontology(store, ontology: Ontology, name: str = ONTOLOGY_TABLE) -> None:
    """Persist the ontology through the TableStore as a tiny typed table
    (kind ∈ entity_type | relation_type | connection) — the tabular
    stand-in for the reference's ontology.json rewrite."""
    rows = (
        [("entity_type", t, None, None) for t in ontology.entity_types]
        + [("relation_type", r, None, None) for r in ontology.relation_types]
        + [("connection", rel, s, d) for rel, s, d in ontology.connections]
    )
    store.write_rows(rows, _ONTOLOGY_SCHEMA, name)


def load_ontology(store, name: str = ONTOLOGY_TABLE) -> Ontology | None:
    """Reload a persisted ontology; None when the table does not exist
    (first run).  Sorted tuples keep the dataclass deterministic across
    parquet row order."""
    if not store.exists(name):
        return None
    rows = store.read(name).collect()
    ent = sorted(r.a for r in rows if r.kind == "entity_type")
    rel = sorted(r.a for r in rows if r.kind == "relation_type")
    conns = sorted((r.a, r.b, r.c) for r in rows if r.kind == "connection")
    return Ontology(entity_types=tuple(ent), relation_types=tuple(rel), connections=tuple(conns))


def persist_updated_ontology(store, mentions: DataFrame, base: Ontology) -> tuple[Ontology, bool]:
    """Load the persisted ontology (falling back to ``base``), union the
    types discovered in ``mentions``, and write back iff changed —
    exactly the reference's load → union → conditional-rewrite cycle.
    Returns (effective ontology, changed)."""
    current = load_ontology(store) or base
    merged, changed = updated_ontology(mentions, current)
    if changed or not store.exists(ONTOLOGY_TABLE):
        save_ontology(store, merged)
    return merged, changed
