"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from a seed; the same seed
gives byte-identical rows.

- ``OpenVocab``: a generated gazetteer of random two-word surfaces, all
  of one length so that no surface can be a substring of another, about
  30% of entities carrying a one-letter-substitution alias (first or
  last letter, so shingle Jaccard 0.83 with its base), and every other
  pair of surfaces below ``MAX_FOREIGN_JACCARD``, so the ground-truth
  canonical map is exact:
  each alias merges with its base and no two entities merge.  Turns walk
  every surface once and add one Zipf-popular entity per turn, giving
  hubs for graph reads.  Conversations have Zipf lengths and arrive in
  shuffled order.
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pandas as pd

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "python", "browser", "calculator")
ENTITY_TYPES = ("Person", "Organization", "Tool", "Project Code", "Location")

SHINGLE_K = 3  # PipelineConfig.shingle_k
JACCARD_THRESHOLD = 0.45  # PipelineConfig.jaccard_threshold
MAX_FOREIGN_JACCARD = 0.30  # margin below the threshold for unrelated surfaces
MIN_ALIAS_JACCARD = 0.80  # LSH misses a pair this similar with p < 1e-8
WORD_LEN = 6  # surfaces are "<6 letters> <6 letters>"

_FILLERS = (
    "ok sounds good. will do.",
    "let me check the logs first.",
    "no blockers today",
    "the quarterly numbers look fine.  revenue up.",
    "rebooting the staging box now",
)
_OPEN_TEMPLATES = (
    "{E0} met {E1} and {E2}.",
    "handoff: {E0} to {E1}, cc {E2}.",
    "{E0}; {E1}; {E2}",
    "ask {E0} about {E1} before {E2} ships.",
)


def zipf_lengths(n_convs: int, mean_turns: int, rng: random.Random) -> list[int]:
    """Rank-power-law conversation lengths (a few long conversations),
    capped at 12x the mean like the package fixture."""
    out = []
    for rank in range(1, n_convs + 1):
        base = mean_turns * (n_convs / rank) ** (1.0 / 1.3) / 2.0
        out.append(min(max(1, int(base * (0.5 + rng.random()))), mean_turns * 12))
    return out


def _turn_row(conv: int, turn: int, text: str) -> dict:
    role = ROLES[(conv + turn) % len(ROLES)]
    return {
        "conv_id": f"conv-{conv:06d}",
        "turn_idx": turn,
        "role": role,
        "text": text,
        "tool": TOOLS[turn % len(TOOLS)] if role == "tool" else None,
        "ts": BASE_TS + timedelta(hours=conv, seconds=turn),
    }


def shingles(text: str, k: int = SHINGLE_K) -> frozenset:
    """Character k-shingles of the lowered text (the linking verifier's
    definition)."""
    s = text.lower()
    if len(s) <= k:
        return frozenset({s})
    return frozenset(s[i : i + k] for i in range(len(s) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


@dataclass
class OpenVocab:
    """A generated gazetteer with exact alias ground truth.

    ``surfaces[i]`` belongs to entity ``entity_of[i]``; entity ``e``'s base
    surface is ``surfaces[e]`` (bases come first, aliases after)."""

    surfaces: list[str]
    labels: list[str]
    entity_of: list[int]
    n_entities: int

    @classmethod
    def generate(cls, n_entities: int, seed: int, alias_share: float = 0.3) -> "OpenVocab":
        rng = random.Random(seed)
        index: dict[str, list[int]] = {}  # shingle -> surface ids
        sh: list[frozenset] = []
        surfaces: list[str] = []

        def max_overlap(cand: frozenset, skip: int = -1) -> float:
            counts: dict[int, int] = {}
            for g in cand:
                for j in index.get(g, ()):
                    counts[j] = counts.get(j, 0) + 1
            best = 0.0
            for j, c in counts.items():
                if j != skip:
                    best = max(best, c / (len(cand) + len(sh[j]) - c))
            return best

        def accept(text: str, cand: frozenset) -> None:
            for g in cand:
                index.setdefault(g, []).append(len(surfaces))
            sh.append(cand)
            surfaces.append(text)

        def word() -> str:
            return "".join(rng.choice(string.ascii_lowercase) for _ in range(WORD_LEN))

        seen: set[str] = set()
        while len(surfaces) < n_entities:
            text = f"{word().capitalize()} {word().capitalize()}"
            cand = shingles(text)
            if text.lower() in seen or max_overlap(cand) >= MAX_FOREIGN_JACCARD:
                continue
            seen.add(text.lower())
            accept(text, cand)
        labels = [rng.choice(ENTITY_TYPES) for _ in range(n_entities)]
        entity_of = list(range(n_entities))

        for e in rng.sample(range(n_entities), int(n_entities * alias_share)):
            base = surfaces[e]
            for _attempt in range(8):
                # an end letter sits in one shingle only: Jaccard 10/12
                pos = rng.choice((0, len(base) - 1))
                ch = rng.choice(string.ascii_lowercase.replace(base[pos].lower(), ""))
                alias = base[:pos] + (ch.upper() if base[pos].isupper() else ch) + base[pos + 1 :]
                cand = shingles(alias)
                if (
                    alias.lower() not in seen
                    and jaccard(cand, sh[e]) >= MIN_ALIAS_JACCARD
                    and max_overlap(cand, skip=e) < MAX_FOREIGN_JACCARD
                ):
                    seen.add(alias.lower())
                    accept(alias, cand)
                    labels.append(labels[e])
                    entity_of.append(e)
                    break
        return cls(surfaces, labels, entity_of, n_entities)

    def gazetteer(self) -> tuple[tuple[str, str], ...]:
        return tuple(zip(self.surfaces, self.labels))

    def node_groups(self) -> dict[tuple[str, str], int]:
        """(lowered surface, label) -> entity id: the key the pipeline's
        entity nodes carry."""
        return {
            (s.lower(), lbl): e for s, lbl, e in zip(self.surfaces, self.labels, self.entity_of)
        }

    def rows(self, seed: int, mean_turns: int = 10, filler_share: float = 0.15) -> list[dict]:
        """Turns that mention every surface at least once (two walk slots
        per entity turn) plus one Zipf-popular base entity each."""
        rng = random.Random(seed)
        walk = list(range(len(self.surfaces)))
        rng.shuffle(walk)
        weights = [1.0 / (r + 1) for r in range(self.n_entities)]
        popular = rng.choices(range(self.n_entities), weights=weights, k=len(walk))
        texts = []
        for i in range(0, len(walk), 2):
            pair = walk[i : i + 2] + walk[:1] * (2 - len(walk[i : i + 2]))
            e0, e1 = (self.surfaces[j] for j in pair)
            e2 = self.surfaces[popular[i]]
            texts.append(rng.choice(_OPEN_TEMPLATES).format(E0=e0, E1=e1, E2=e2))
            if rng.random() < filler_share:
                texts.append(rng.choice(_FILLERS))
        rows, pos, ci = [], 0, 0
        n_convs = max(1, len(texts) // mean_turns)
        for n_turns in zipf_lengths(n_convs, mean_turns, rng):
            if pos >= len(texts):
                break
            for ti, text in enumerate(texts[pos : pos + n_turns]):
                rows.append(_turn_row(ci, ti, text))
            pos += n_turns
            ci += 1
        for ti, text in enumerate(texts[pos:]):  # remainder: one last conversation
            rows.append(_turn_row(ci, ti, text))
        rng.shuffle(rows)
        return rows


def write_parquet(rows: list[dict], path: str) -> int:
    """Write transcript rows as one parquet file with microsecond
    timestamps (Spark rejects nanosecond parquet timestamps)."""
    df = pd.DataFrame(rows, columns=COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    return len(rows)
