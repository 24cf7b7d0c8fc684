"""Large-vocabulary gazetteer matcher: parity + perf guard
(VERDICT r3 item 8).

Above mentions._LARGE_VOCAB entries the matcher flips to
vocabulary-size-independent structures (legacy token-scan dict probe +
one Aho-Corasick presence pass for the LLM path) instead of the
first-token alternation regex and per-surface substring scans that collapse at
100k surfaces.  Two guarantees are pinned here:

1. PARITY — the large-vocab route is bit-identical to the small-vocab
   route on the same gazetteer (fuzz corpus over the 41-entry fixture
   with the threshold forced to 1).
2. THROUGHPUT — at a synthetic 100k-surface gazetteer, extraction
   sustains the documented bound: index build (once per worker,
   cached) <= 60 s, and a 200-text batch (~300 chars each) completes
   in <= 10 s — i.e. >= 20 texts/sec/core at 100k surfaces, vs the
   old per-surface scan's ~O(100k x |text|) per text.
"""

import random
import time

import pytest

from docs2kg_spark import config as cfg_mod
from docs2kg_spark.operators import mentions as m


ENTITY_TYPES = tuple(cfg_mod.Ontology().entity_types)


def _clear_caches():
    m._INDEX_CACHE.clear()
    m._LLM_CACHE.clear()


def _extract_all(gazetteer, texts, min_judge_len=3):
    index = m._get_index(gazetteer)
    llm = m._get_llm_entries(gazetteer, ENTITY_TYPES)
    return [m._extract_one(t, llm, index, min_judge_len) for t in texts]


@pytest.fixture
def fuzz_texts():
    rng = random.Random(42)
    surfaces = [e for e, _ in cfg_mod.DEFAULT_GAZETTEER]
    noise = ["the", "report", "from", "q3", "sync", "ok,", "at", "—", "re:"]
    texts = []
    for _ in range(120):
        n = rng.randint(3, 18)
        words = []
        for _ in range(n):
            if rng.random() < 0.35:
                s = rng.choice(surfaces)
                words.append(s.upper() if rng.random() < 0.2 else s.lower() if rng.random() < 0.5 else s)
            else:
                words.append(rng.choice(noise))
        sep = ". " if rng.random() < 0.3 else " "
        texts.append(sep.join(words))
    texts += ["", "   ", "Alice.", "aliceville met Bob", "acme corporation, Perth"]
    return texts


def test_large_vocab_route_parity(fuzz_texts, monkeypatch):
    """Forcing the large-vocab route on the 41-entry fixture must
    reproduce the small-vocab route's output byte-for-byte — the
    threshold moves work between algorithms, never semantics."""
    gaz = cfg_mod.DEFAULT_GAZETTEER
    _clear_caches()
    small = _extract_all(gaz, fuzz_texts)
    # verify the small route actually used the fast matcher
    assert m._INDEX_CACHE[hash(gaz)][1][0] is True

    _clear_caches()
    monkeypatch.setattr(m, "_LARGE_VOCAB", 1)
    large = _extract_all(gaz, fuzz_texts)
    assert m._INDEX_CACHE[hash(gaz)][1][0] is False  # large route engaged
    assert m._LLM_CACHE[(hash(gaz), ENTITY_TYPES)][1] is not None  # AC built
    _clear_caches()

    assert small == large


def _synthetic_gazetteer(n=100_000):
    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    seen = set()
    while len(out) < n:
        w1 = "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))
        w2 = "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))
        s = f"{w1} {w2}"
        if s not in seen:
            seen.add(s)
            out.append((s, "Organization"))
    return tuple(out)


def test_100k_surface_throughput():
    """Perf guard: the documented per-batch bound at a 100k-surface
    gazetteer.  Pure-Python (the UDF kernel is exercised directly, the
    Arrow plumbing is covered elsewhere), so the guard measures the
    matcher, not Spark overheads."""
    gaz = _synthetic_gazetteer()
    assert len(gaz) >= m._LARGE_VOCAB

    rng = random.Random(99)
    planted = [gaz[rng.randrange(len(gaz))][0] for _ in range(200)]
    noise = ["metric", "review", "pipeline", "deploy", "batch", "retry"]
    texts = []
    for i in range(200):
        words = [rng.choice(noise) for _ in range(40)]
        words[7] = planted[i]  # one true surface per text
        # the boundary rule rejects matches whose neighboring token
        # isalpha() (reference semantics) — flank with numeric tokens so
        # the planted surface is matchable by the token path
        words[6], words[8] = "7", "9"
        texts.append(" ".join(words))

    _clear_caches()
    t0 = time.monotonic()
    index = m._get_index(gaz)
    llm = m._get_llm_entries(gaz, ENTITY_TYPES)
    build_s = time.monotonic() - t0
    assert build_s <= 60.0, f"100k-surface index build took {build_s:.1f}s"
    assert index[1][0] is False and llm[1] is not None  # large route engaged

    t0 = time.monotonic()
    results = [m._extract_one(t, llm, index, 3) for t in texts]
    batch_s = time.monotonic() - t0
    assert batch_s <= 10.0, f"200-text batch took {batch_s:.1f}s at 100k surfaces"

    # correctness at scale: every planted surface is found (the token
    # path emits first and first-wins dedup collapses the LLM duplicate)
    for i, res in enumerate(results):
        found = {(r[2], r[5]) for r in res}
        assert (planted[i], "gazetteer") in found, i

    # and the AC presence path alone (token path boundary-rejected by
    # alpha neighbors) still surfaces the mention via the LLM stand-in
    res = m._extract_one(f"deploy retry {planted[0]} batch metric", llm, index, 3)
    assert {(r[2], r[5]) for r in res} == {(planted[0], "llm_standin")}
    _clear_caches()  # don't leak ~200MB of automaton into later tests
