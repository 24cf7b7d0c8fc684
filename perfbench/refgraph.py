"""Plain-Python reference answers for the graph reads of ``query_kg``."""

from __future__ import annotations

from collections import Counter, defaultdict


def k_hop(edges: list[tuple[str, str]], seed: str, k: int) -> dict[str, int]:
    """node -> minimum hop count from ``seed`` along src -> dst, up to k."""
    adj: dict[str, list[str]] = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    dist = {seed: 0}
    frontier = [seed]
    for h in range(1, k + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    return dist


def degrees_top(edges: list[tuple[str, str]], k: int) -> list[tuple[str, int, int, int]]:
    """Top-k (node, out, in, total) by total degree desc, then node."""
    out_d, in_d = Counter(s for s, _ in edges), Counter(d for _, d in edges)
    rows = [(n, out_d[n], in_d[n], out_d[n] + in_d[n]) for n in set(out_d) | set(in_d)]
    rows.sort(key=lambda r: (-r[3], r[0]))
    return rows[:k]


def ppr(edges: list[tuple[str, str]], seed: str, iters: int, damping: float = 0.85) -> dict[str, float]:
    """Fixed-iteration personalized PageRank restarting at ``seed``:
    pr0 = [v = seed]; pr(v) = (1-d)[v = seed] + d * sum_{u->v} pr(u)/outdeg(u)."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    base = {n: 1.0 if n == seed else 0.0 for n in nodes}
    outdeg = Counter(s for s, _ in edges)
    pr = dict(base)
    for _ in range(iters):
        acc: dict[str, float] = defaultdict(float)
        for s, d in edges:
            acc[d] += pr[s] / outdeg[s]
        pr = {n: (1.0 - damping) * base[n] + damping * acc.get(n, 0.0) for n in nodes}
    return pr
