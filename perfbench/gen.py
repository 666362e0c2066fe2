"""Seeded input generator.

Everything the benchmark feeds the library comes from here, derived from
the `--seed` argument alone: corpus seeds and sizes, the query sequence
and batches (drawn from the built index's doc-frequency bands), the
ingest delete sets, the planted duplicate documents and the embedding
matrix with its planted duplicates. The functions are pure: the same seed
and the same inputs give the same op list.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

CATEGORIES = (
    "HighTerm", "MedTerm", "LowTerm", "AndHighMed", "OrHighMed",
    "MinMatch2of3", "Phrase", "Prefix3", "Wildcard", "Fuzzy1",
)
# categories whose expected result comes from tests/oracle.py; the rest
# (multi-term expansion) are checked against topk(wand=False)
ORACLE_CATEGORIES = frozenset(
    ("HighTerm", "MedTerm", "LowTerm", "AndHighMed", "OrHighMed", "MinMatch2of3", "Phrase")
)
BATCH_SIZE = 24
BATCH_POOL = 12


@dataclass(frozen=True)
class Query:
    """A query as plain data: `kind` is a category name, `terms` its
    terms (or the prefix / pattern / fuzzy target as a 1-tuple)."""

    kind: str
    terms: tuple[str, ...]


def derived_seed(seed: int, label: str) -> int:
    """Independent sub-seed for one input family (corpus slice, dedup
    corpus, embeddings), stable across Python versions."""
    return random.Random(f"{seed}:{label}").randrange(1, 1 << 31)


def df_bands(doc_freq: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Split the vocabulary into high / med / low doc-frequency bands,
    each sorted by (df desc, term asc)."""
    ranked = sorted(doc_freq.items(), key=lambda kv: (-kv[1], kv[0]))
    high = [t for t, df in ranked if df >= 0.2 * n_docs]
    med = [t for t, df in ranked if 0.02 * n_docs <= df < 0.2 * n_docs]
    low = [t for t, df in ranked if 3 <= df < 0.02 * n_docs]
    if not (high and med and low):
        raise ValueError(f"corpus too small for df bands: {len(high)}/{len(med)}/{len(low)}")
    return {"high": high, "med": med, "low": low}


class _Draw:
    """Draws terms from the bands without replacement until a band runs
    out, then starts over; keeps query repeats rare."""

    def __init__(self, rng: random.Random, bands: dict[str, list[str]]):
        self.rng = rng
        self.bands = bands
        self.left: dict[str, list[str]] = {}

    def __call__(self, band: str, exclude: tuple[str, ...] = ()) -> str:
        for _ in range(3):
            left = self.left.get(band)
            if not left:
                left = list(self.bands[band])
                self.rng.shuffle(left)
                self.left[band] = left
            for i in range(len(left) - 1, -1, -1):
                if left[i] not in exclude:
                    return left.pop(i)
            self.left[band] = []
        raise ValueError(f"band {band} cannot supply a term outside {exclude}")


def _query(kind: str, draw: _Draw, rng: random.Random, bigrams: list[tuple[str, str]]) -> Query:
    if kind == "HighTerm":
        return Query(kind, (draw("high"),))
    if kind == "MedTerm":
        return Query(kind, (draw("med"),))
    if kind == "LowTerm":
        return Query(kind, (draw("low"),))
    if kind in ("AndHighMed", "OrHighMed"):
        return Query(kind, (draw("high"), draw("med")))
    if kind == "MinMatch2of3":
        h = draw("high")
        m = draw("med", (h,))
        return Query(kind, (h, m, draw("low", (h, m))))
    if kind == "Phrase":
        return Query(kind, bigrams[rng.randrange(len(bigrams))])
    t = draw("med")
    if kind == "Prefix3":
        return Query(kind, (t[:3],))
    if kind == "Wildcard":
        # two characters, one free, then the fourth: a few hundred terms
        return Query(kind, (t[:2] + "?" + t[3:4] + "*",))
    if kind == "Fuzzy1":
        return Query(kind, (t,))
    raise ValueError(kind)


def query_sequence(
    seed: int,
    bands: dict[str, list[str]],
    bigrams: list[tuple[str, str]],
    n: int,
    label: str = "queries",
    categories: tuple[str, ...] = CATEGORIES,
) -> list[Query]:
    """`n` single queries, stratified: every run of len(categories) holds
    each category once in a seeded order, so medians compare across
    seeds. `label` selects an independent stream."""
    rng = random.Random(derived_seed(seed, label))
    draw = _Draw(rng, bands)
    out: list[Query] = []
    seen: set[Query] = set()
    while len(out) < n:
        kinds = list(categories)
        rng.shuffle(kinds)
        for k in kinds:
            # distinct terms can still give the same prefix, pattern or
            # bigram: redraw a few times before accepting a repeat
            for _ in range(8):
                q = _query(k, draw, rng, bigrams)
                if q not in seen:
                    break
            seen.add(q)
            out.append(q)
    return out[:n]


def batch_sequence(
    seed: int, bands: dict[str, list[str]], bigrams: list[tuple[str, str]], n_batches: int
) -> list[list[Query]]:
    """Batches of BATCH_SIZE queries over one BATCH_POOL-term pool, so the
    legs of a batch overlap. Each batch carries two phrase queries (whose
    terms come from the same corpus bigram list)."""
    rng = random.Random(derived_seed(seed, "batches"))
    pool = rng.sample(bands["high"], min(4, len(bands["high"])))
    pool += rng.sample(bands["med"], BATCH_POOL - len(pool))
    shapes = ("Term", "Term", "AndHighMed", "OrHighMed", "MinMatch2of3")
    out = []
    for _ in range(n_batches):
        batch = [Query("Phrase", bigrams[rng.randrange(len(bigrams))]) for _ in range(2)]
        while len(batch) < BATCH_SIZE:
            shape = shapes[rng.randrange(len(shapes))]
            width = {"Term": 1, "MinMatch2of3": 3}.get(shape, 2)
            terms = tuple(rng.sample(pool, width))
            batch.append(Query("MedTerm" if shape == "Term" else shape, terms))
        rng.shuffle(batch)
        out.append(batch)
    return out


def delete_set(seed: int, n_docs: int, frac: float = 0.01) -> list[int]:
    """Segment-local doc ids (1-based) to delete from an earlier segment."""
    rng = random.Random(derived_seed(seed, "deletes"))
    return sorted(rng.sample(range(1, n_docs + 1), max(1, int(n_docs * frac))))


def planted_duplicates(seed: int, n_docs: int, frac: float = 0.02) -> list[int]:
    """Indices (0-based, into the dedup corpus) of docs copied under new ids."""
    rng = random.Random(derived_seed(seed, "dupes"))
    return sorted(rng.sample(range(n_docs), max(1, int(n_docs * frac))))


def embeddings(seed: int, n: int, dim: int, frac: float = 0.02) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """(n, dim) float64 matrix and the planted exact-duplicate id pairs
    (a, b), a < b. A further `frac` of rows are near-duplicates (1% noise)
    of earlier rows; their recall is probabilistic and not checked."""
    rng = np.random.default_rng(derived_seed(seed, "embeddings"))
    m = rng.standard_normal((n, dim))
    k = max(1, int(n * frac))
    rows = rng.choice(n, size=4 * k, replace=False)
    src, exact, near = rows[:2 * k:2], rows[1:2 * k:2], rows[2 * k:]
    m[exact] = m[src]
    m[near] = m[rng.choice(n, size=len(near))] + 0.01 * rng.standard_normal((len(near), dim))
    return m, sorted((int(min(a, b)), int(max(a, b))) for a, b in zip(src, exact))
