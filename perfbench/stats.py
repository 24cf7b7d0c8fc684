"""Summary statistics and order-insensitive digests used by the benchmark."""

from __future__ import annotations

import math
import statistics

# percentiles considered for a tail figure, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], p: float) -> float:
    """Nearest-rank p-th percentile of already sorted values."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile of ``TAIL_LADDER`` that has at
    least ``MIN_BEYOND`` samples strictly above its nearest rank; None when
    there are too few samples for any of them."""
    s = sorted(values)
    for p in TAIL_LADDER:
        value = nearest_rank(s, p)
        if sum(v > value for v in s) >= MIN_BEYOND:
            return p, value
    return None


def timing_summary(values: list[float]) -> dict:
    """Median, tail (with its percentile) and sample count of a timing."""
    tail = tail_percentile(values)
    return {
        "n": len(values),
        "p50": statistics.median(values) if values else None,
        "tail_pct": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
    }


def multiset_digest(row_hashes) -> str:
    """Digest of a multiset of signed 64-bit row hashes: the row count plus
    two sums mod 2^64, so it depends on which rows occur and how often but
    not on their order."""
    n, s1, s2 = 0, 0, 0
    for h in row_hashes:
        h = int(h) & 0xFFFFFFFFFFFFFFFF
        n += 1
        s1 = (s1 + h) & 0xFFFFFFFFFFFFFFFF
        s2 = (s2 + h * h) & 0xFFFFFFFFFFFFFFFF
    return f"{n}:{s1:016x}:{s2:016x}"


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
