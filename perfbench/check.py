"""Output checks, run outside every timed span.

Expected top-k lists for Term / And / Or / MinMatch / Phrase come from
`tests/oracle.py` (imported, never modified), built over the same
generated rows and holding postings only for the terms the run queries.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from perfbench.gen import Query
from tests import oracle


class Corpus:
    """Analyzed rows of one index: `ids[i]` is the engine's doc id of
    `texts[i]`, tokens follow the oracle's tokenizer and stopwords."""

    def __init__(self, ids: list[int], texts: list[str], stopwords: frozenset[str]):
        self.ids = ids
        self.texts = texts
        self.stopwords = stopwords
        self.tokens = [oracle.tokenize(t, stopwords) for t in texts]

    @classmethod
    def concat(cls, parts: list[tuple["Corpus", int]]) -> "Corpus":
        """Several corpora as one, each part's ids shifted by its base."""
        out = cls.__new__(cls)
        out.ids = [base + d for c, base in parts for d in c.ids]
        out.texts = [t for c, _ in parts for t in c.texts]
        out.tokens = [t for c, _ in parts for t in c.tokens]
        out.stopwords = parts[0][0].stopwords
        return out

    def renumbered(self, ids: list[int | None]) -> "Corpus":
        """The docs whose new id is not None, under their new ids."""
        keep = [i for i, d in enumerate(ids) if d is not None]
        out = Corpus.__new__(Corpus)
        out.ids = [ids[i] for i in keep]
        out.texts = [self.texts[i] for i in keep]
        out.tokens = [self.tokens[i] for i in keep]
        out.stopwords = self.stopwords
        return out

    def doc_freq(self) -> dict[str, int]:
        c: Counter = Counter()
        for toks in self.tokens:
            c.update({t for _, t in toks})
        return dict(c)

    def bigrams(self, limit_docs: int = 300) -> list[tuple[str, str]]:
        """Distinct adjacent (post-stopword) bigrams of the first docs."""
        seen: set[tuple[str, str]] = set()
        for toks in self.tokens[:limit_docs]:
            for (p1, t1), (p2, t2) in zip(toks, toks[1:]):
                if p2 == p1 + 1 and t1 != t2:
                    seen.add((t1, t2))
        return sorted(seen)

    def oracle_index(self, terms: set[str]) -> oracle.OracleIndex:
        """Oracle index with postings only for `terms`; doc lengths cover
        every doc."""
        idx = oracle.OracleIndex()
        acc: dict[str, dict[int, list[int]]] = {}
        for doc, toks in zip(self.ids, self.tokens):
            idx.doclen[doc] = len(toks)
            for pos, t in toks:
                if t in terms:
                    acc.setdefault(t, {}).setdefault(doc, []).append(pos)
        for t, dmap in acc.items():
            idx.postings[t] = [(d, len(ps), ps) for d, ps in sorted(dmap.items())]
        return idx


class Expected:
    """Oracle top-k lists over one oracle index, with each term's leg
    scores computed once (And / Or / MinMatch combine them through
    `oracle.merge_sum`, as `oracle.score_and` / `score_or` do)."""

    def __init__(self, idx: oracle.OracleIndex):
        self.idx = idx
        self.legs: dict[str, dict] = {}
        self.phrases: dict[tuple[str, ...], dict] = {}

    def leg(self, term: str) -> dict:
        if term not in self.legs:
            self.legs[term] = oracle.score_term(self.idx, term)
        return self.legs[term]

    def __call__(self, q: Query, k: int, exclude: set[int] = frozenset()):
        """Oracle top-k [(doc, float32 score)] for an oracle-checked
        query; `exclude` drops deleted docs from the result (they stay in
        the statistics until a merge, like the engine's tombstones)."""
        t = q.terms
        if q.kind in ("HighTerm", "MedTerm", "LowTerm"):
            scores = self.leg(t[0])
        elif q.kind == "AndHighMed":
            scores = oracle.merge_sum([self.leg(x) for x in t], min_match=len(t))
        elif q.kind == "OrHighMed":
            scores = oracle.merge_sum([self.leg(x) for x in t], min_match=1)
        elif q.kind == "MinMatch2of3":
            scores = oracle.merge_sum([self.leg(x) for x in t], min_match=2)
        elif q.kind == "Phrase":
            if t not in self.phrases:
                self.phrases[t] = oracle.score_phrase(self.idx, list(t))
            scores = self.phrases[t]
        else:
            raise ValueError(f"no oracle for {q.kind}")
        if exclude:
            scores = {d: s for d, s in scores.items() if d not in exclude}
        return oracle.topk(scores, k)


def same_ranking(got: list[tuple[int, float]], exp: list[tuple[int, np.float32]]) -> bool:
    """Rank-identical and float32-identical."""
    return [d for d, _ in got] == [d for d, _ in exp] and all(
        np.float32(g) == np.float32(e) for (_, g), (_, e) in zip(got, exp)
    )
