"""Static configuration: ontology and gazetteer defaults.

Mirrors the reference's two config artifacts:
- D7 Ontology (reference: Docs2KG/utils/models.py:6-9) — entity types,
  relation types, and (rel, src, dst) connections that drive predicate
  assignment; pairs with no connection fall back to RELATES_TO
  (reference default at utils/neo4j_loader.py:394).
- D8 Gazetteer (reference: entity_list.csv loaded at
  ner_spacy_match.py:37-49) — ``entity,entity_type`` rows; matching is
  case-insensitive (ner_spacy_match.py:105); entries may contain commas
  (the reference splits CSV on the *last* comma, ner_spacy_match.py:43).

The fixture gazetteer embeds the edge cases FIXTURES.md §F2 calls for:
multi-token entities, mixed case, a comma-containing surface form,
near-duplicate surfaces ("Acme Corp" / "Acme Corporation") for
MinHash-LSH linking, and one surface shared by two types (dedup key
includes the label, semantic_kg/base.py:112-117).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Ontology:
    entity_types: tuple[str, ...] = (
        "Person",
        "Organization",
        "Tool",
        "Project Code",
        "Location",
    )
    relation_types: tuple[str, ...] = ("WorksFor", "Uses", "LocatedIn", "RELATES_TO")
    # (relation, source_type, target_type)
    connections: tuple[tuple[str, str, str], ...] = (
        ("WorksFor", "Person", "Organization"),
        ("Uses", "Person", "Tool"),
        ("Uses", "Organization", "Tool"),
        ("LocatedIn", "Organization", "Location"),
        ("LocatedIn", "Person", "Location"),
    )

    def predicate_for(self, src_type: str, dst_type: str) -> str:
        """Connection lookup with RELATES_TO fallback
        (neo4j_loader.py:394 uses RELATES_TO as the default type)."""
        for rel, s, d in self.connections:
            if s == src_type and d == dst_type:
                return rel
        return "RELATES_TO"


# (entity surface form, entity type).  ~40 rows per FIXTURES.md F2.
DEFAULT_GAZETTEER: tuple[tuple[str, str], ...] = (
    ("Alice", "Person"),
    ("Bob", "Person"),
    ("Carol", "Person"),
    ("Dave", "Person"),
    ("Erin Zhao", "Person"),
    ("Frank Miller", "Person"),
    ("Grace Hopper", "Person"),
    ("Heidi", "Person"),
    ("Ivan Petrov", "Person"),
    ("Judy", "Person"),
    ("Acme Corp", "Organization"),
    ("Acme Corporation", "Organization"),
    ("Globex", "Organization"),
    ("Initech", "Organization"),
    ("Umbrella Labs", "Organization"),
    ("Stark Industries", "Organization"),
    ("Wayne Enterprises", "Organization"),
    ("Hooli", "Organization"),
    ("Pied Piper", "Organization"),
    ("Vandelay Industries", "Organization"),
    ("Spark", "Tool"),
    ("Iceberg", "Tool"),
    ("Kafka", "Tool"),
    ("Neo4j", "Tool"),
    ("DuckDB", "Tool"),
    ("Parquet", "Tool"),
    ("Airflow", "Tool"),
    ("Terraform", "Tool"),
    ("Grafana", "Tool"),
    ("PX-7", "Project Code"),
    ("QZ-42", "Project Code"),
    ("Omega-3", "Project Code"),
    ("Perth", "Location"),
    ("Zurich", "Location"),
    ("Osaka", "Location"),
    ("Nairobi", "Location"),
    ("Lima", "Location"),
    # comma-containing surface (exercises the last-comma CSV split,
    # ner_spacy_match.py:43)
    ("Acme, Inc", "Organization"),
    # same surface, two types (dedup key includes label)
    ("Mercury", "Tool"),
    ("Mercury", "Project Code"),
    # multi-token with 3 tokens
    ("Bank of Lima", "Organization"),
)

DEFAULT_ONTOLOGY = Ontology()

# Deterministic LLM-judge stand-in rule (replaces the per-mention HTTP
# round-trip at ner_spacy_match.py:132-136 / agents/func/ner_llm_judge.py):
# a mention is judged incorrect iff its surface form is shorter than
# MIN_JUDGE_LEN characters (quality floor).  Both the oracle and the
# Spark UDF implement exactly this rule.
MIN_JUDGE_LEN = 3


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the end-to-end KG pipeline."""

    gazetteer: tuple[tuple[str, str], ...] = DEFAULT_GAZETTEER
    ontology: Ontology = field(default_factory=Ontology)
    min_judge_len: int = MIN_JUDGE_LEN
    # entity linking
    shingle_k: int = 3          # character shingle width for MinHash
    minhash_perms: int = 32     # number of minhash permutations
    # 16 bands x 2 rows: P(candidate | J=0.45) ~ 0.97, so near-dup pairs
    # at the threshold are found w.h.p.; false candidates are cheap —
    # they're re-verified with exact Jaccard before linking.
    lsh_bands: int = 16
    jaccard_threshold: float = 0.45
    max_block_size: int = 200   # LSH block cap (logged, not silent)
    cc_max_rounds: int = 20     # CC fixpoint bound (O(log n) expected)
    # verified near-dup edges at or below this count resolve with a
    # driver-side union-find (one collect) instead of the iterative
    # distributed loop: the edge set is orders of magnitude smaller than
    # the mention table (it exists only where surfaces near-duplicate),
    # so small/medium graphs pay 1 job instead of rounds x checkpoints.
    # Above it, the large-star/small-star loop runs (the 10^12-turn
    # path; force it everywhere with cc_driver_max_edges=0).  The same
    # bound picks the route of graphq.k_hop,
    # graphq.personalized_pagerank and graphq.degrees: an edge table at
    # or under it is collected once and read on the driver, a larger
    # one (or a bound of 0) runs the per-hop / per-iteration DataFrame
    # loop or degrees' aggregate.  A frame over committed files is
    # prepared once per snapshot and cached (one graph), so later reads
    # of that snapshot skip the count and the collect; degrees takes the
    # driver route only over a snapshot k_hop or personalized_pagerank
    # has prepared.  One field, two decisions: a bound of 0 forces star
    # CC AND the distributed graph reads.  Measured for the reads (4
    # vCPUs, synthetic Zipf-target graphs of 50k-800k edges), the driver
    # route stayed faster up to 800k, so 200k sits below both reads'
    # crossover.
    cc_driver_max_edges: int = 200_000
    # When the distinct (text,label) surface vocabulary fits under this
    # bound, the WHOLE linking stage (MinHash -> LSH banding -> block cap
    # -> Jaccard verify -> CC) runs on the driver from one collect: the
    # closed-gazetteer regime has a vocabulary orders of magnitude smaller
    # than the mention table, and the distributed path's ~8 tiny Spark
    # jobs are pure Amdahl serial time there (for a 1000-executor cluster
    # as for the N-vs-4N bench).  Semantics are bit-identical to the
    # distributed path (parity-tested); open-vocabulary extraction blows
    # past the bound and takes the distributed path.  0 disables.
    linking_driver_max_nodes: int = 20_000
    # per-project layout containment schema as ((parent, (children...)), ...);
    # None = operators.graph.LAYOUT_SCHEMA.  The config analog of the
    # reference's per-project schema.json (layout_kg.py:127-147).
    layout_schema: tuple[tuple[str, tuple[str, ...]], ...] | None = None
    # >0 switches segmentation to the two-phase bucketed numbering
    # (segment_transcripts_bucketed): the conv_id ordering key is salted
    # by turn-range bucket so one enormous conversation spreads over
    # ceil(turns/bucket) reducers instead of straggling on one (the
    # "long conversations" skew of north_rule).  0 = plain window.
    segment_bucket_turns: int = 0
