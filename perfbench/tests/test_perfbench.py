"""Tests for the benchmark's own code: generators, statistics, digests.

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout; the Spark digest test starts a
local[1] session.
"""

from __future__ import annotations

import itertools
import os
import random
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import stats  # noqa: E402


@pytest.fixture(scope="module")
def vocab():
    return gen.OpenVocab.generate(300, seed=5)


def test_generators_deterministic_per_seed(vocab):
    again = gen.OpenVocab.generate(300, seed=5)
    assert again == vocab
    assert vocab.rows(seed=5) == again.rows(seed=5)
    other = gen.OpenVocab.generate(300, seed=6)
    assert other.surfaces != vocab.surfaces
    assert other.rows(seed=6) != vocab.rows(seed=5)


def test_no_surface_is_a_substring_of_another(vocab):
    lowered = [s.lower() for s in vocab.surfaces]
    assert len(set(lowered)) == len(lowered)
    for a, b in itertools.permutations(lowered, 2):
        assert a not in b


def test_alias_ground_truth_is_exact(vocab):
    """Aliases clear the linking threshold with their base; every other
    pair stays below it, so the expected canonical map is exact."""
    sh = [gen.shingles(s) for s in vocab.surfaces]
    aliases = range(vocab.n_entities, len(vocab.surfaces))
    assert len(aliases) >= int(0.25 * vocab.n_entities)
    for a in aliases:
        base = vocab.entity_of[a]
        assert vocab.labels[a] == vocab.labels[base]
        assert gen.jaccard(sh[a], sh[base]) >= gen.MIN_ALIAS_JACCARD > gen.JACCARD_THRESHOLD
    for i, j in itertools.combinations(range(len(vocab.surfaces)), 2):
        if vocab.entity_of[i] != vocab.entity_of[j]:
            assert gen.jaccard(sh[i], sh[j]) < gen.JACCARD_THRESHOLD


def test_open_rows_mention_every_surface_and_nothing_else(vocab):
    """Every surface occurs, and each turn holds exactly the three surfaces
    of its template slots (fillers none): no surface appears across a slot
    boundary."""
    known = {s.lower() for s in vocab.surfaces}
    shaped = re.compile(r"(?=([a-z]{%d} [a-z]{%d}))" % (gen.WORD_LEN, gen.WORD_LEN))
    found = set()
    for r in vocab.rows(seed=5):
        hits = [m.group(1) for m in shaped.finditer(r["text"].lower()) if m.group(1) in known]
        assert len(hits) == (0 if r["text"] in gen._FILLERS else 3)
        found.update(hits)
    assert found == known


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(19))) is None
    for n in range(1, 400):
        values = [float(v) for v in random.Random(n).sample(range(10 * n), n)]
        got = stats.tail_percentile(values)
        if got is None:
            assert all(sum(v > stats.nearest_rank(sorted(values), p) for v in values) < 10
                       for p in stats.TAIL_LADDER)
            continue
        p, value = got
        assert sum(v > value for v in values) >= stats.MIN_BEYOND
        higher = [q for q in stats.TAIL_LADDER if q > p]
        for q in higher:
            assert sum(v > stats.nearest_rank(sorted(values), q) for v in values) < stats.MIN_BEYOND


def test_multiset_digest_ignores_order_but_not_multiplicity():
    rng = random.Random(1)
    hashes = [rng.getrandbits(64) - (1 << 63) for _ in range(500)]
    shuffled = hashes[:]
    random.Random(2).shuffle(shuffled)
    assert stats.multiset_digest(hashes) == stats.multiset_digest(shuffled)
    assert stats.multiset_digest(hashes) != stats.multiset_digest(hashes + hashes[:1])
    assert stats.multiset_digest(hashes) != stats.multiset_digest(hashes[1:])


def test_table_digest_does_not_depend_on_row_order():
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    import workloads

    spark = SparkSession.builder.master("local[1]").appName("perfbench-tests").getOrCreate()
    try:
        rows = [(f"n{i}", i % 7, f"{{\"k\": {i}}}") for i in range(200)]
        shuffled = rows[:]
        random.Random(3).shuffle(shuffled)
        schema = "node_id string, hops int, properties string"
        a = spark.createDataFrame(rows, schema)
        b = spark.createDataFrame(shuffled, schema).repartition(5).select("properties", "hops", "node_id")
        assert workloads.table_digest(a) == workloads.table_digest(b)
        assert workloads.table_digest(a.union(a), distinct=True) == workloads.table_digest(a)
        assert workloads.table_digest(a.limit(199)) != workloads.table_digest(a)
    finally:
        spark.stop()
    assert pyspark is not None


def test_query_cycles_read_from_a_hub_and_a_tail_entity():
    pytest.importorskip("pyspark")
    import workloads

    # entity e<k> is the target of 30 - k HAS_ENTITY edges, so e0..e9 are the hubs
    typed = [(f"seg-{k}-{i}", f"e{k}", "HAS_ENTITY") for k in range(30) for i in range(30 - k)]
    typed.append(("e3", "e20", "RELATES_TO"))

    def cycles(seed):
        wl = workloads.QueryKG.__new__(workloads.QueryKG)
        wl.seed = seed
        return wl._cycles(typed)

    hubs = {f"e{k}" for k in range(workloads.QUERY_HUBS)}
    got = cycles(7)
    assert got == cycles(7) != cycles(8)
    assert len(got) == workloads.QUERY_CYCLES
    for (k1, hub), (k2, low), (k3, none) in got:
        assert (k1, k2, k3, none) == ("k_hop", "ppr", "degrees", None)
        assert hub in hubs and low not in hubs
