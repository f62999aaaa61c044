"""Seeded inputs.  Everything a workload feeds the program comes from here,
so one seed always gives the same documents, questions and seed sets."""

from __future__ import annotations

import hashlib

import numpy as np

# The word list of the sf0.1 ``documents`` table: 30 near-uniform words
# plus one rare token; documents hold 10-100 words.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE = "dup"
CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def documents(seed: int, n: int, stream: str = "docs") -> list[str]:
    g = rng(seed, stream)
    out = []
    for _ in range(n):
        words = list(g.choice(WORDS, int(g.integers(10, 101))))
        if g.random() < 0.01:
            words[int(g.integers(len(words)))] = RARE
        out.append(" ".join(words))
    return out


def corpus_rows(docs: list[str], tag: str) -> list[tuple]:
    """Corpus rows ``(repo, path, commit, lang, content)`` for ``HippoIndex.index``."""
    rows = []
    for i, d in enumerate(docs):
        h = hashlib.sha256(d.encode()).hexdigest()
        rows.append(("bench", f"{tag}/doc{i}.txt", h[:40], "txt", d))
    return rows


class Questions:
    """Question batches.  A batch holds ``n`` distinct questions of 3-8
    words drawn uniformly from ``WORDS``, and is keyed by ``(seed, key)``,
    so the same key always gives the same batch.  No popularity model is
    assumed; the share of questions asked more than once in the run is
    recorded, so a later result cache shows where its gain comes from."""

    def __init__(self, seed: int):
        self.seed = seed
        self.asked = 0
        self.seen: set[str] = set()

    def batch(self, key: str, n: int) -> list[str]:
        g = rng(self.seed, f"questions-{key}")
        qs: list[str] = []
        while len(qs) < n:
            q = " ".join(g.choice(WORDS, int(g.integers(3, 9))))
            if q not in qs:
                qs.append(q)
        self.asked += n
        self.seen.update(qs)
        return qs

    def repeat_share(self) -> float:
        return 1.0 - len(self.seen) / self.asked if self.asked else 0.0


def seed_sets(seed: int, pass_no: int, entities: list[str], queries: int = 8,
              per_query: int = 3) -> list[tuple[str, str, float]]:
    """PPR reset rows ``(query_id, node_id, reset_weight)``: ``queries`` seed
    sets of ``per_query`` distinct entity nodes with weights in [0.5, 1.5)."""
    g = rng(seed, f"seed-sets-{pass_no}")
    rows = []
    for q in range(queries):
        for node in g.choice(entities, per_query, replace=False):
            rows.append((f"q{q:03d}", str(node), float(0.5 + g.random())))
    return rows
