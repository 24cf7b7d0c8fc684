"""Mechanically-generated DuckDB SQL twins for the UDF-backed operators.

The round-1 rows-only queries (MinHash near-dup, the KG UDF stages) have
no hand-writable SQL because their semantics live in Python UDFs — but
every one of those UDFs is *deterministic with seeded constants*, so the
same technique that oracled ann_lsh and simhash applies: embed the exact
constants (FNV weights, permutation (a,b) pairs, gazetteer surfaces,
ontology connections) into SQL generated by the same Python process, and
recompute the operator bit-for-bit in DuckDB.

Caveat shared by all twins here: byte-position arithmetic is done with
``ascii(substr(...))`` (one code point == one byte), valid because the
test corpus is pure ASCII (verified over sf0.001/0.01/0.1); the Spark
side hashes utf-8 bytes, so a non-ASCII corpus would need a BLOB-indexed
variant of the same SQL.

The KG-stage twins (kg_*_sql) read a relation named ``transcripts``
with the pipeline's input columns (conv_id, turn_idx, role, text, tool);
``TRANSCRIPTS_CTE`` derives one from the test corpus's ``documents``
table.  tests/test_kg_twins.py compares each KG-stage twin with the
table ``plans/pipeline.py::run_pipeline`` writes.

Spark twins: operators/dedup.py::minhash_near_dup_pairs,
operators/segments.py, operators/mentions.py,
operators/linking.py (_shingle_hashes/_perm_params/_char_shingles),
operators/graph.py.
Reference parity anchor: the reference's entity-unification semantics at
utils/neo4j_loader.py:153-230 (see operators/linking.py docstring).
"""

from __future__ import annotations

from docs2kg_spark.config import DEFAULT_GAZETTEER, PipelineConfig

# ---------------------------------------------------------------------------
# derived transcript input
# ---------------------------------------------------------------------------
#
# A deterministic transcript table over the test corpus's `documents`
# (doc_id, text, source): 50 conversations, roles cycling by doc_id, and
# two gazetteer surfaces injected into every turn so extraction, linking
# and relations all see real work.

_SURFACES = [e for e, _ in DEFAULT_GAZETTEER]
_N_INJECT = 16
# (idx, s0, s1): the entity-injection table
_INJECT = [
    (i, _SURFACES[i % len(_SURFACES)], _SURFACES[(i * 7 + 3) % len(_SURFACES)])
    for i in range(_N_INJECT)
]
_INJECT_VALUES = ", ".join(f"({i}, '{a.replace(chr(39), chr(39)*2)}', '{b.replace(chr(39), chr(39)*2)}')" for i, a, b in _INJECT)

_ROLE_CASE_SQL = (
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'system' WHEN 1 THEN 'user' "
    "WHEN 2 THEN 'assistant' ELSE 'tool' END"
)

# CTE chain ending in `transcripts` (DuckDB dialect; reads `documents`)
TRANSCRIPTS_CTE = f"""
inject(idx, s0, s1) AS (VALUES {_INJECT_VALUES}),
transcripts AS (
  SELECT printf('conv-%04d', CAST(d.doc_id % 50 AS INT)) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY d.doc_id % 50 ORDER BY d.doc_id) - 1 AS INT) AS turn_idx,
         {_ROLE_CASE_SQL} AS role,
         d.text || ' update: ' || i.s0 || '; owner is ' || i.s1 || '.' AS text,
         CASE WHEN d.doc_id % 4 = 3 THEN d.source END AS tool
  FROM documents d JOIN inject i ON CAST(d.doc_id % {_N_INJECT} AS INT) = i.idx
)
"""

_MOD = 1 << 64  # wrap-around modulus of every uint64 hash
_FNV_PRIME = 1099511628211


def _fnv_weights(k: int) -> list[int]:
    """P^0..P^{k-1} mod 2^64 — the positional weights of
    linking._shingle_hashes (numpy uint64 power wraps mod 2^64)."""
    w, out = 1, []
    for _ in range(k):
        out.append(w)
        w = (w * _FNV_PRIME) % _MOD
    return out


def _perm_literals(n_perms: int) -> list[tuple[int, int]]:
    from docs2kg_spark.operators.linking import _perm_params

    a, b = _perm_params(n_perms)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _shingle_hash_ctes(k: int, source: str = "documents", id_expr: str = "doc_id",
                       text_expr: str = "text", mat: str = "") -> str:
    """CTE block computing (id, h): the distinct uint64 byte-shingle
    hashes of lower(text) per row — the SQL twin of
    linking._shingle_hashes (window sum of byte*P^j, wrapping mod 2^64;
    len<=k collapses to one whole-string hash; empty text hashes to 0)."""
    w = _fnv_weights(k)
    long_terms = " + ".join(
        f"ascii(substr(lt, i + {j}, 1))::HUGEINT * {w[j]}" for j in range(k)
    )
    short_terms = " + ".join(
        f"CASE WHEN length(lt) >= {j + 1} THEN ascii(substr(lt, {j + 1}, 1))::HUGEINT * {w[j]} ELSE 0 END"
        for j in range(k)
    )
    return f"""
mh_docs AS (
  SELECT {id_expr} AS id, lower(coalesce({text_expr}, '')) AS lt FROM {source}
),
mh_hashes AS {mat}(
  SELECT DISTINCT id, (({long_terms}) % {_MOD})::UBIGINT AS h
  FROM (SELECT id, lt, unnest(generate_series(1, length(lt) - {k - 1})) AS i
        FROM mh_docs WHERE length(lt) > {k})
  UNION
  SELECT id, (({short_terms}) % {_MOD})::UBIGINT AS h
  FROM mh_docs WHERE length(lt) <= {k}
)"""


def _sig_select(n_perms: int, mat: str = "") -> str:
    """32 MIN aggregates — signature column s{p} = min over shingles of
    (a_p·h + b_p) mod 2^64, exactly make_minhash_udf's permutation."""
    perms = _perm_literals(n_perms)
    cols = ",\n         ".join(
        f"MIN((({a}::HUGEINT * h + {b}) % {_MOD})::UBIGINT) AS s{p}"
        for p, (a, b) in enumerate(perms)
    )
    return f"mh_sigs AS {mat}(\n  SELECT id,\n         {cols}\n  FROM mh_hashes GROUP BY id\n)"


def _char_shingle_ctes(k: int, mat: str = "") -> str:
    """(id, g): distinct character k-shingles of lower(text) — the twin
    of linking._char_shingles (len<=k → the whole string)."""
    return f"""
jc_shingles AS {mat}(
  SELECT DISTINCT id, substr(lt, i, {k}) AS g
  FROM (SELECT id, lt, unnest(generate_series(1, length(lt) - {k - 1})) AS i
        FROM mh_docs WHERE length(lt) > {k})
  UNION
  SELECT id, lt AS g FROM mh_docs WHERE length(lt) <= {k}
),
jc_sizes AS (SELECT id, count(*) AS n FROM jc_shingles GROUP BY id)"""


def _band_keys_expr(n_perms: int, bands: int) -> str:
    """unnest-able list of per-band key strings — the raw-tuple analog of
    dedup._band_candidate_pairs' xxhash64 band key (key equality
    coincides up to 2^-64 hash collisions)."""
    rows = n_perms // bands
    return ", ".join(
        "concat(" + ", '|', ".join(
            [f"'{i}'"] + [f"s{i * rows + r}::VARCHAR" for r in range(rows)]
        ) + ")"
        for i in range(bands)
    )


def _sig_agree_expr(n_perms: int) -> str:
    """Per-pair signature agreement count over aliased sig tables sa/sb."""
    return " + ".join(
        f"(CASE WHEN sa.s{p} = sb.s{p} THEN 1 ELSE 0 END)" for p in range(n_perms)
    )


def minhash_pairs_parts(est_z: float = 1.65) -> tuple[str, str]:
    """(cte_chain, pairs_select) for composition by downstream twins
    (e.g. the doc-dedup cluster map).  See minhash_near_dup_sql."""
    full = minhash_near_dup_sql(est_z)
    ctes, _, select = full.partition("\nSELECT i.a")
    return ctes.strip().removeprefix("WITH").strip(), ("SELECT i.a" + select).strip()


def minhash_near_dup_sql(est_z: float = 1.65) -> str:
    """DuckDB twin of queries.q_doc_near_dup_minhash: shingle-hash →
    32-perm MinHash → 8×4 banding (band equality on the raw value tuple;
    the Spark side xxhash64-compresses the same tuple, so key equality
    coincides up to 2^-64 collisions) → signature-estimated-Jaccard
    prefilter (same t − z·σ cutoff) → exact char-shingle Jaccard ≥ t."""
    cfg = PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    n_perms, bands = cfg.minhash_perms, cfg.lsh_bands
    rows = n_perms // bands
    t = cfg.jaccard_threshold
    sigma = (t * (1 - t) / n_perms) ** 0.5
    est_cutoff = max(0.0, t - est_z * sigma)

    band_keys = _band_keys_expr(n_perms, bands)
    eq_terms = _sig_agree_expr(n_perms)
    return f"""
WITH {_shingle_hash_ctes(cfg.shingle_k).strip()},
{_sig_select(n_perms)},
mh_bands AS (
  SELECT id, unnest([{band_keys}]) AS band_key FROM mh_sigs
),
mh_cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM mh_bands a JOIN mh_bands b ON a.band_key = b.band_key AND a.id < b.id
),
mh_est AS (
  SELECT c.a, c.b FROM mh_cand c
  JOIN mh_sigs sa ON sa.id = c.a
  JOIN mh_sigs sb ON sb.id = c.b
  WHERE ({eq_terms}) / {float(n_perms)} >= {est_cutoff!r}
),
{_char_shingle_ctes(cfg.shingle_k).strip()},
mh_inter AS (
  SELECT e.a, e.b, count(*) AS i
  FROM mh_est e
  JOIN jc_shingles x ON x.id = e.a
  JOIN jc_shingles y ON y.id = e.b AND x.g = y.g
  GROUP BY e.a, e.b
)
SELECT i.a, i.b, ROUND(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) AS sim
FROM mh_inter i JOIN jc_sizes sa ON sa.id = i.a JOIN jc_sizes sb ON sb.id = i.b
WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= {t!r}
"""


def minhash_estimator_audit_sql() -> str:
    """DuckDB twin of dedup.minhash_estimator_audit: per BANDED candidate
    pair, the 32-perm signature agreement count next to the exact
    char-shingle intersection/union sizes — integers only, the ratios
    are the reader's.  Shares every CTE with minhash_near_dup_sql so the
    audited candidate set is provably the production one."""
    cfg = PipelineConfig(shingle_k=5, jaccard_threshold=0.7, lsh_bands=8)
    n_perms, bands = cfg.minhash_perms, cfg.lsh_bands
    band_keys = _band_keys_expr(n_perms, bands)
    eq_terms = _sig_agree_expr(n_perms)
    return f"""
WITH {_shingle_hash_ctes(cfg.shingle_k).strip()},
{_sig_select(n_perms)},
mh_bands AS (
  SELECT id, unnest([{band_keys}]) AS band_key FROM mh_sigs
),
mh_cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM mh_bands a JOIN mh_bands b ON a.band_key = b.band_key AND a.id < b.id
),
mh_agree AS (
  SELECT c.a, c.b, ({eq_terms})::INTEGER AS n_agree
  FROM mh_cand c JOIN mh_sigs sa ON sa.id = c.a JOIN mh_sigs sb ON sb.id = c.b
),
{_char_shingle_ctes(cfg.shingle_k).strip()},
mh_inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM mh_cand c
  JOIN jc_shingles x ON x.id = c.a
  JOIN jc_shingles y ON y.id = c.b AND x.g = y.g
  GROUP BY c.a, c.b
)
SELECT g.a, g.b, g.n_agree,
       coalesce(i.i, 0)::BIGINT AS n_inter,
       (sa.n + sb.n - coalesce(i.i, 0))::BIGINT AS n_union
FROM mh_agree g
LEFT JOIN mh_inter i ON i.a = g.a AND i.b = g.b
JOIN jc_sizes sa ON sa.id = g.a
JOIN jc_sizes sb ON sb.id = g.b
"""


# ---------------------------------------------------------------------------
# KG UDF-stage twins (mentions → triples → canonical map → nodes/edges)
# ---------------------------------------------------------------------------
#
# The extraction UDF (operators/mentions.py::_extract_one) is two
# deterministic passes over each segment text — a token-sequence
# gazetteer match with boundary rules and an LLM-standin chunked
# substring find — followed by a first-wins dedup.  Every rule is
# recomputed here in pure SQL:
#
# - tokenization (\w+|[^\w\s], maximal munch) is never materialized;
#   instead its CONSEQUENCES are encoded as character-class boundary
#   regexes on the prefix/suffix around a candidate match (a \w+ word is
#   a complete token iff not flanked by \w; the previous/next token is
#   purely alphabetic iff the prefix/suffix matches an alpha-run
#   boundary pattern — see _GAZ_* conditions);
# - a gazetteer surface can token-match ONLY if every whitespace-word of
#   it is a pure \w+ run (a word containing '-' or ',' splits into
#   multiple tokens and can never equal the single pattern token, e.g.
#   'px-7' / 'acme, inc' — those surfaces reach mentions exclusively via
#   the LLM-standin substring path, exactly like the Python);
# - first-wins dedup order is reproduced with a phase + stable sort key:
#   gazetteer results sorted by (start, gazetteer-index) — Python's
#   stable sort by start over emission order — then LLM results in
#   (chunk-index, gazetteer-index) order.

import re as _re


def _ws_set_sql() -> str:
    """Python str.strip()'s ASCII whitespace as a DuckDB charset expr."""
    return "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def _gaz_entries():
    from docs2kg_spark.config import DEFAULT_GAZETTEER

    return [(gi, surface.lower(), etype) for gi, (surface, etype) in enumerate(DEFAULT_GAZETTEER)]


def _segments_cte() -> str:
    """segs: the kept-segment table (twin of operators/segments.py) with
    everything downstream needs — ids, ordering, labels, lowered text."""
    return """
segs AS MATERIALIZED (
  SELECT conv_id,
         substr(sha256(conv_id || '|' || CAST(turn_idx AS VARCHAR) || '|' || text), 1, 32) AS seg_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INT) AS seg_idx,
         turn_idx, role, tool,
         CASE role WHEN 'system' THEN 'H1' WHEN 'tool' THEN 'CODE' ELSE 'P' END AS label,
         text, lower(text) AS lt
  FROM transcripts WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
)"""


def _mentions_ctes(min_judge_len: int) -> str:
    from docs2kg_spark.config import DEFAULT_ONTOLOGY

    entries = _gaz_entries()
    etypes = set(DEFAULT_ONTOLOGY.entity_types)
    ws = _ws_set_sql()

    # token-matchable surfaces: every whitespace-word is a pure \w+ run.
    # Dialect bound (documented, cf. pii.py's notes): this twin's \s+ is
    # RE2-ASCII [ \t\n\f\r], while the UDF follows the reference
    # tokenizer's Python \s (adds \x0B and Unicode spaces).  The twin is
    # exact on texts whose whitespace is ASCII-sans-VT — which the
    # corpus satisfies by construction; the tokenizer-class constant
    # (functions/ids.WS_RE) fixes the corresponding gap for the
    # training-data operators, but here Python-\s IS reference parity,
    # so the UDF keeps it and the twin carries this caveat instead.
    tok_rows = []
    for gi, s, et in entries:
        words = s.split()
        if words and all(_re.fullmatch(r"\w+", w) for w in words):
            pat = "^(" + "\\s+".join(_re.escape(w) for w in words) + ")"
            tok_rows.append(f"({gi}, '{s}', '{s[0]}', '{pat}', '{et}')")
    gazm_values = ", ".join(tok_rows)

    # LLM-standin path: etype-allowlisted entries, original gazetteer order
    llm_rows = ", ".join(
        f"({gi}, '{s}', '{et}')" for gi, s, et in entries if et in etypes
    )

    return f"""
gazm(gi, surface, c0, pat, etype) AS (VALUES {gazm_values}),
gazl(gi, surface, etype) AS (VALUES {llm_rows}),
seg_chars AS (
  SELECT conv_id, seg_id, lt, unnest(generate_series(0, length(lt) - 1)) AS i FROM segs
),
gmatch0 AS (
  SELECT c.conv_id, c.seg_id, c.lt, c.i, g.gi, g.surface, g.etype,
         regexp_extract(substr(c.lt, c.i + 1), g.pat, 1) AS m
  FROM seg_chars c JOIN gazm g ON substr(c.lt, c.i + 1, 1) = g.c0
),
gmatch AS (
  SELECT conv_id, seg_id, i AS start, i + length(m) AS "end", m AS text, etype AS label,
         CAST(CASE WHEN m = surface THEN 0.95 ELSE 0.9 END AS DOUBLE) AS confidence,
         'gazetteer' AS method, 0 AS phase, i AS k1, gi AS k2
  FROM gmatch0
  WHERE m <> ''
    AND length(m) >= {min_judge_len}
    -- first matched word is a complete token (left edge not \\w)
    AND (i = 0 OR NOT regexp_matches(substr(lt, i, 1), '[a-z0-9_]'))
    -- last matched word is a complete token (right edge not \\w)
    AND NOT regexp_matches(substr(lt, i + length(m) + 1, 1), '[a-z0-9_]')
    -- previous token, if any, is not purely alphabetic
    AND NOT (i > 0 AND regexp_matches(substr(lt, 1, i), '(^|[^a-z0-9_])[a-z]+\\s*$'))
    -- next token, if any, is not purely alphabetic
    AND NOT regexp_matches(substr(lt, i + length(m) + 1), '^\\s*[a-z]+([^a-z0-9_]|$)')
),
llm_chunks AS (
  SELECT conv_id, seg_id, ci, trim(chunk, {ws}) || '.' AS chunk2
  FROM (SELECT conv_id, seg_id, generate_subscripts(parts, 1) AS ci, unnest(parts) AS chunk
        FROM (SELECT conv_id, seg_id, string_split(text, '.') AS parts FROM segs))
  WHERE trim(chunk, {ws}) <> ''
),
llm_pos AS (
  SELECT conv_id, seg_id, ci, chunk2,
         coalesce(SUM(length(chunk2)) OVER (PARTITION BY conv_id, seg_id ORDER BY ci
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
  FROM llm_chunks
),
lmatch AS (
  SELECT c.conv_id, c.seg_id,
         strpos(lower(c.chunk2), g.surface) - 1 + c.pos AS start,
         strpos(lower(c.chunk2), g.surface) - 1 + c.pos + length(g.surface) AS "end",
         g.surface AS text, g.etype AS label, CAST(1.0 AS DOUBLE) AS confidence,
         'llm_standin' AS method, 1 AS phase, c.ci AS k1, g.gi AS k2
  FROM llm_pos c JOIN gazl g ON strpos(lower(c.chunk2), g.surface) > 0
),
mentions AS MATERIALIZED (
  SELECT conv_id, seg_id, CAST(start AS INT) AS start, CAST("end" AS INT) AS "end",
         text, label, confidence, method
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, seg_id, start, "end", text, label
                                 ORDER BY phase, k1, k2) AS rn
    FROM (SELECT * FROM gmatch UNION ALL SELECT * FROM lmatch)
  ) WHERE rn = 1
)"""


def kg_segments_sql(transcripts_cte: str) -> str:
    return f"""
WITH {transcripts_cte.strip().rstrip(',')},
{_segments_cte().strip()}
SELECT conv_id, seg_id, seg_idx, turn_idx, label, role, tool, text FROM segs
"""


def kg_mentions_sql(transcripts_cte: str, min_judge_len: int | None = None) -> str:
    from docs2kg_spark.config import MIN_JUDGE_LEN

    mjl = MIN_JUDGE_LEN if min_judge_len is None else min_judge_len
    return f"""
WITH {transcripts_cte.strip().rstrip(',')},
{_segments_cte().strip()},
{_mentions_ctes(mjl).strip()}
SELECT conv_id, seg_id, start, "end", text, label, confidence, method FROM mentions
"""


def _conns_values() -> str:
    from docs2kg_spark.config import DEFAULT_ONTOLOGY

    return ", ".join(f"('{r}', '{s}', '{d}')" for r, s, d in DEFAULT_ONTOLOGY.connections)


def _triples_ctes() -> str:
    """CTE `triples` — twin of operators/mentions.py::_triples_of (the
    fused extraction's per-segment triples) over the `mentions` CTE:
    ordered pairs (lexicographic on the
    (start,end,text,label) struct), same-surface-same-label pairs
    excluded, ontology predicate with RELATES_TO fallback, first-pair-
    wins per (seg, subj, pred, obj) via the same pair-order sort."""
    return f"""
conns(pred, src_type, dst_type) AS (VALUES {_conns_values()}),
tr_pairs AS (
  SELECT a.conv_id, a.seg_id, a.text AS subj, a.label AS subj_label,
         b.text AS obj, b.label AS obj_label,
         least(a.confidence, b.confidence) AS confidence,
         a.start AS a_start, a."end" AS a_end, a.text AS a_text, a.label AS a_label,
         b.start AS b_start, b."end" AS b_end, b.text AS b_text, b.label AS b_label
  FROM mentions a JOIN mentions b
    ON a.seg_id = b.seg_id
   AND (a.start, a."end", a.text, a.label) < (b.start, b."end", b.text, b.label)
  WHERE NOT (a.text = b.text AND a.label = b.label)
),
triples AS MATERIALIZED (
  SELECT conv_id, seg_id, subj, subj_label, pred, obj, obj_label, confidence
  FROM (
    SELECT p.*, coalesce(c.pred, 'RELATES_TO') AS pred,
           ROW_NUMBER() OVER (
             PARTITION BY p.conv_id, p.seg_id, p.subj, coalesce(c.pred, 'RELATES_TO'), p.obj
             ORDER BY p.a_start, p.a_end, p.a_text, p.a_label,
                      p.b_start, p.b_end, p.b_text, p.b_label) AS rn
    FROM tr_pairs p
    LEFT JOIN conns c ON p.subj_label = c.src_type AND p.obj_label = c.dst_type
  ) WHERE rn = 1
)"""


def kg_triples_ctes(transcripts_cte: str) -> str:
    """The full CTE chain up to (and including) `triples`, for
    composition by downstream twins (e.g. the entity-graph queries)."""
    from docs2kg_spark.config import MIN_JUDGE_LEN

    return f"""{transcripts_cte.strip().rstrip(',')},
{_segments_cte().strip()},
{_mentions_ctes(MIN_JUDGE_LEN).strip()},
{_triples_ctes().strip()}"""


def kg_triples_sql(transcripts_cte: str) -> str:
    return f"""
WITH {kg_triples_ctes(transcripts_cte)}
SELECT conv_id, seg_id, subj, subj_label, pred, obj, obj_label, confidence FROM triples
"""


_ENTITY_ID = "substr(sha256('entity|' || {t} || '|' || {l}), 1, 32)"


def _canonical_ctes() -> str:
    """CTE `cmap` — twin of operators/linking.py::build_canonical_map over
    the `mentions` CTE: distinct (text,label) entity nodes, 32-perm
    MinHash over k=3 byte shingles, 16x2 label-scoped banding with the
    >max_block_size cap, exact char-Jaccard >= threshold verification,
    and connected components (min-id survivor) as a recursive CTE."""
    cfg = PipelineConfig()
    rows = cfg.minhash_perms // cfg.lsh_bands
    band_keys = ", ".join(
        "concat(" + ", '|', ".join(
            [f"'{i}'", "label"] + [f"s{i * rows + r}::VARCHAR" for r in range(rows)]
        ) + ")"
        for i in range(cfg.lsh_bands)
    )
    ent_id = _ENTITY_ID.format(t="text", l="label")
    return f"""
ent_nodes AS MATERIALIZED (
  SELECT DISTINCT text, label, {ent_id} AS node_id FROM mentions
),
{_shingle_hash_ctes(cfg.shingle_k, source="ent_nodes", id_expr="node_id", mat="MATERIALIZED ").strip()},
{_sig_select(cfg.minhash_perms, mat="MATERIALIZED ")},
cn_bands AS (
  SELECT s.id AS node_id, e.label, unnest([{band_keys}]) AS band_key
  FROM mh_sigs s JOIN ent_nodes e ON e.node_id = s.id
),
cn_capped AS (
  SELECT band_key FROM cn_bands GROUP BY band_key HAVING count(*) > {cfg.max_block_size}
),
cn_pairs AS (
  SELECT DISTINCT a.node_id AS a, b.node_id AS b
  FROM cn_bands a JOIN cn_bands b ON a.band_key = b.band_key AND a.node_id < b.node_id
  WHERE a.band_key NOT IN (SELECT band_key FROM cn_capped)
),
{_char_shingle_ctes(cfg.shingle_k, mat="MATERIALIZED ").strip()},
cn_inter AS (
  SELECT p.a, p.b, count(*) AS i FROM cn_pairs p
  JOIN jc_shingles x ON x.id = p.a
  JOIN jc_shingles y ON y.id = p.b AND y.g = x.g
  GROUP BY p.a, p.b
),
cn_edges AS (
  SELECT i.a, i.b FROM cn_inter i
  JOIN jc_sizes na ON na.id = i.a JOIN jc_sizes nb ON nb.id = i.b
  WHERE i.i::DOUBLE / (na.n + nb.n - i.i) >= {cfg.jaccard_threshold!r}
),
cn_sym AS (SELECT a, b FROM cn_edges UNION SELECT b, a FROM cn_edges),
cn_reach(n, c) AS (
  SELECT a, a FROM cn_sym
  UNION
  SELECT s.b, r.c FROM cn_reach r JOIN cn_sym s ON s.a = r.n
),
cn_comp AS (SELECT n AS node_id, min(c) AS comp FROM cn_reach GROUP BY n),
cmap AS MATERIALIZED (
  SELECT e.node_id, e.text, e.label, coalesce(c.comp, e.node_id) AS canonical_id
  FROM ent_nodes e LEFT JOIN cn_comp c ON c.node_id = e.node_id
)"""


def _kg_prefix(transcripts_cte: str) -> str:
    from docs2kg_spark.config import MIN_JUDGE_LEN

    return (
        f"WITH RECURSIVE {transcripts_cte.strip().rstrip(',')},\n"
        f"{_segments_cte().strip()},\n"
        f"{_mentions_ctes(MIN_JUDGE_LEN).strip()}"
    )


def kg_canonical_ctes(transcripts_cte: str) -> str:
    """The full CTE chain through `segs`, `mentions` and `cmap`
    (WITH RECURSIVE prefix included), for composition by downstream
    twins (e.g. the entity-timeline query)."""
    return f"{_kg_prefix(transcripts_cte)},\n{_canonical_ctes().strip()}"


def kg_full_ctes(transcripts_cte: str) -> str:
    """The complete chain — segs, mentions, triples AND cmap — with the
    WITH RECURSIVE prefix included, for twins that span extraction and
    linking (e.g. the per-conversation KG density profile)."""
    return (
        f"WITH RECURSIVE {kg_triples_ctes(transcripts_cte)},\n"
        f"{_canonical_ctes().strip()}"
    )


def kg_canonical_map_sql(transcripts_cte: str) -> str:
    return f"""
{kg_canonical_ctes(transcripts_cte)}
SELECT node_id, text, label, canonical_id FROM cmap
"""


def _sanitize_case(labels) -> str:
    """CASE expr reproducing functions/labels.py::sanitize_label_py over a
    known finite label universe (seg labels + ontology entity types)."""
    from docs2kg_spark.functions.labels import sanitize_label_py

    whens = " ".join(f"WHEN '{lb}' THEN '{sanitize_label_py(lb)}'" for lb in labels)
    return f"CASE label {whens} ELSE label END"


def _all_labels():
    from docs2kg_spark.config import DEFAULT_ONTOLOGY

    return ["H1", "P", "CODE", *DEFAULT_ONTOLOGY.entity_types]


def kg_nodes_sql(transcripts_cte: str) -> str:
    sanitize = _sanitize_case(_all_labels())
    return f"""
{_kg_prefix(transcripts_cte)},
{_canonical_ctes().strip()}
SELECT substr(sha256('file|' || conv_id), 1, 32) AS node_id,
       substr(sha256('file|' || conv_id), 1, 32) AS canonical_id,
       'FILE' AS type
FROM (SELECT DISTINCT conv_id FROM segs)
UNION ALL
SELECT seg_id, seg_id, {sanitize} FROM segs
UNION ALL
SELECT node_id, canonical_id, {sanitize} FROM cmap WHERE node_id = canonical_id
"""


def kg_edges_sql(transcripts_cte: str) -> str:
    """Twin of operators/graph.py::materialize_kg edges (q selects
    src,dst,type): layout CONTAINS/NEXT over the segment sequence,
    HAS_ENTITY per mention through the canonical map, and co-occurrence
    relations with merge-redirection type rewrite (src moved →
    RELATES_TO beats dst moved → HAS_ENTITY).  The layout parent rule is
    specialized to this pipeline's label universe {{H1,P,CODE}} (role→
    label map of segments.py): H1 is the only header level, so the
    header-stack parent of an H1 is always the File node, and the
    any-header running-last is the last prior H1."""
    ent_m = _ENTITY_ID.format(t="m.text", l="m.label")
    ent_s = _ENTITY_ID.format(t="t.subj", l="t.subj_label")
    ent_o = _ENTITY_ID.format(t="t.obj", l="t.obj_label")
    return f"""
{_kg_prefix(transcripts_cte)},
{_triples_ctes().strip()},
{_canonical_ctes().strip()},
lay AS (
  SELECT conv_id, seg_id, seg_idx, label,
         LAG(label) OVER w AS prev_label,
         LAG(seg_id) OVER w AS prev_seg,
         last_value(CASE WHEN label = 'H1' THEN seg_id END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY seg_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hany,
         substr(sha256('file|' || conv_id), 1, 32) AS file_id
  FROM segs
  WINDOW w AS (PARTITION BY conv_id ORDER BY seg_idx)
)
SELECT src, dst, type FROM (
  SELECT CASE WHEN label = 'H1' THEN file_id
              ELSE coalesce(CASE WHEN (prev_label = 'H1' AND label IN ('P', 'CODE'))
                                   OR (prev_label = 'P' AND label = 'CODE')
                                 THEN prev_seg END,
                            hany, file_id) END AS src,
         seg_id AS dst, 'CONTAINS' AS type
  FROM lay
  UNION ALL
  SELECT prev_seg, seg_id, 'NEXT' FROM lay WHERE prev_label = label
  UNION ALL
  SELECT m.seg_id, coalesce(c.canonical_id, {ent_m}), 'HAS_ENTITY'
  FROM mentions m LEFT JOIN cmap c ON c.node_id = {ent_m}
  UNION ALL
  SELECT coalesce(cs.canonical_id, {ent_s}) AS src,
         coalesce(cd.canonical_id, {ent_o}) AS dst,
         CASE WHEN coalesce(cs.canonical_id, {ent_s}) <> {ent_s} THEN 'RELATES_TO'
              WHEN coalesce(cd.canonical_id, {ent_o}) <> {ent_o} THEN 'HAS_ENTITY'
              ELSE t.pred END AS type
  FROM triples t
  LEFT JOIN cmap cs ON cs.node_id = {ent_s}
  LEFT JOIN cmap cd ON cd.node_id = {ent_o}
)
"""


def kg_metadata_edges_sql(transcripts_cte: str) -> str:
    """Twin of operators/graph.py::conversation_metadata_kg edges:
    distinct HAS_ROLE / HAS_TOOL edges from each conversation."""
    return f"""
WITH {transcripts_cte.strip().rstrip(',')}
SELECT DISTINCT 'doc_' || conv_id AS source, 'role_' || role AS target, 'HAS_ROLE' AS type FROM transcripts
UNION
SELECT DISTINCT 'doc_' || conv_id, 'tool_' || tool, 'HAS_TOOL' FROM transcripts WHERE tool IS NOT NULL
"""


def doc_dedup_map_sql(est_z: float = 1.65) -> str:
    """DuckDB twin of operators/dedup.py::doc_dedup_map — the minhash
    pair chain, then connected components as a recursive label
    propagation (labels spread along the symmetric edge closure; the
    recursive UNION dedups (node,lab) pairs, so rows are bounded by
    Σ|component|², tiny for near-dup clusters), min-label survivor.
    Ids compared as VARCHAR to match the Spark side's string casts."""
    ctes, pairs_select = minhash_pairs_parts(est_z)
    return f"""
WITH RECURSIVE {ctes},
dd_pairs AS ({pairs_select}),
dd_und AS (
  SELECT CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b FROM dd_pairs
  UNION
  SELECT CAST(b AS VARCHAR), CAST(a AS VARCHAR) FROM dd_pairs
),
dd_reach(node, lab) AS (
  SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR) FROM documents
  UNION
  SELECT u.b, r.lab FROM dd_reach r JOIN dd_und u ON u.a = r.node
)
SELECT node AS doc_id, min(lab) AS canonical_id FROM dd_reach GROUP BY node
"""
