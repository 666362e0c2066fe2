"""Multiterm expansion over the cached dictionary's arrays: Prefix,
Range and Wildcard index ranges, Fuzzy against per-length UTF-32 code
matrices, and the (doc_freq desc, term asc) head/tail split, checked
against a plain Python restatement of each leaf's semantics — with the
dictionary cached (no Spark) and not cached (the Spark term_stats path)."""

from __future__ import annotations

import random
import re

import numpy as np
import pytest

from iresearch_spark.index.segments import IndexStore, build_segment_from_tokens
from iresearch_spark.search import SearchEngine
from iresearch_spark.search.executor import _damerau, _damerau_batch, _lev_batch
from iresearch_spark.search.query import Fuzzy, Prefix, Range, Terms, Wildcard

SPECIAL = [
    "", "a", "a.b", "axb", "a+b", "aab", "a|b", "(x)", "(x)y", "[ab]", "[ab]c", "c++", "c+", "\\d", "\\dz",
    "^a", "$a", "café", "cafe", "cafés", "naïve", "über", "日本", "日本語", "日",
    "😀", "😀smile", "a😀b", "a😁b", "𝔘nicode", "z\U0010ffff", "z\U0010ffffa", "batch", "bathc", "btach",
    "match", "batches", "bat", "ba", "b",
]


def _vocab(seed: int = 5) -> tuple[list[str], list[int]]:
    rng = random.Random(seed)
    alpha = "abcdeé😀"
    words = set(SPECIAL)
    while len(words) < 700:
        words.add("".join(rng.choice(alpha) for _ in range(rng.randrange(1, 8))))
    terms = sorted(words)
    # few distinct doc_freqs: the head/tail split must break ties by term
    return terms, [rng.choice((1, 2, 3, 5, 8, 40)) for _ in terms]


def _bare_engine(terms: list[str], dfs: list[int]) -> SearchEngine:
    """An engine holding only a cached dictionary (no store, no Spark)."""
    eng = SearchEngine.__new__(SearchEngine)
    eng._vocab = (np.array(terms, dtype=object), np.array(dfs, dtype=np.int64))
    eng._fuzzy_index = None
    return eng


def _wild_rx(pattern: str):
    return re.compile("".join(".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern), re.DOTALL)


def _matches(leaf, terms: list[str]) -> list[str]:
    """The terms a leaf matches, by its definition."""
    if isinstance(leaf, Prefix):
        return [t for t in terms if t.startswith(leaf.prefix)]
    if isinstance(leaf, Wildcard):
        rx = _wild_rx(leaf.pattern)
        return [t for t in terms if rx.fullmatch(t)]
    if isinstance(leaf, Range):
        lo, hi = leaf.min_term, leaf.max_term
        return [
            t for t in terms
            if (lo is None or (t >= lo if leaf.include_min else t > lo))
            and (hi is None or (t <= hi if leaf.include_max else t < hi))
        ]
    if isinstance(leaf, Fuzzy):
        if leaf.transpositions:
            return [t for t in terms if _damerau(t, leaf.term) <= leaf.distance]
        return [t for t, d in zip(terms, _lev_batch(terms, leaf.term)) if d <= leaf.distance]
    raise TypeError(leaf)


def _expected(leaf, terms: list[str], dfs: list[int]):
    """(scored head [(term, df)], tail [term]): the top terms by (df desc,
    term asc), the rest after them in the same order."""
    df = dict(zip(terms, dfs))
    ranked = sorted(((t, df[t]) for t in _matches(leaf, terms)), key=lambda p: (-p[1], p[0]))
    limit = leaf.max_terms if isinstance(leaf, Fuzzy) else leaf.scored_terms_limit
    return ranked[:limit], [t for t, _ in ranked[limit:]]


def _leaves() -> list:
    out = []
    for limit in (0, 1, 3, 10_000):
        out += [Prefix(p, scored_terms_limit=limit) for p in ("a", "", "ca", "😀", "日本", "z\U0010ffff", "zz")]
        out += [
            Wildcard(p, scored_terms_limit=limit)
            for p in ("a.b*", "a+b", "a|b*", "(x)*", "[ab]*", "c++?", "\\d*", "^a", "$*", "*", "?", "??",
                      "caf?", "日*", "*😀*", "a?b", "*b", "b*h*")
        ]
        out += [
            Range(lo, hi, include_min=im, include_max=iM, scored_terms_limit=limit)
            for lo, hi in (("b", "c"), (None, "ab"), ("caf", None), ("日", "😀"), ("", ""), ("z", "a"))
            for im in (True, False)
            for iM in (True, False)
        ]
    return out


def _fuzzy_leaves() -> list[Fuzzy]:
    return [
        Fuzzy(q, distance=d, max_terms=m, transpositions=tr)
        for q in ("batch", "", "café", "😀smile", "日本", "a😀b", "abc")
        for d in (0, 1, 2)
        for m in (2, 10_000)
        for tr in (False, True)
    ]


def test_vocab_expansion_equals_definition():
    terms, dfs = _vocab()
    eng = _bare_engine(terms, dfs)
    for leaf in _leaves() + _fuzzy_leaves():
        head, tail = eng.expand_tiered(leaf)
        assert (head, tail) == _expected(leaf, terms, dfs), leaf
        assert eng.expand(leaf) == head, leaf


def test_fuzzy_matrices_equal_the_batch_dps():
    """The matrix path (code matrices built once per engine, length band
    only) selects exactly the terms `_lev_batch` / `_damerau_batch`
    accept over the whole dictionary, for non-ASCII and astral-plane
    terms, the empty term and distances 0-2."""
    terms, dfs = _vocab(9)
    eng = _bare_engine(terms, dfs)
    for q in ("batch", "", "é", "😀", "a😀b", "日本語", "cafés", "bathc"):
        lev, dam = _lev_batch(terms, q), _damerau_batch(terms, q)
        for d in (0, 1, 2):
            got = eng._vocab_matches(Fuzzy(q, distance=d)).tolist()
            assert got == np.flatnonzero(lev <= d).tolist(), (q, d)
            got = eng._vocab_matches(Fuzzy(q, distance=d, transpositions=True)).tolist()
            assert got == np.flatnonzero(dam <= d).tolist(), (q, d)
    assert eng._fuzzy_index is not None
    assert sum(idx.size for idx, _ in eng._fuzzy_index.values()) == len(terms)


def test_exact_terms_in_term_order():
    terms, dfs = _vocab()
    eng = _bare_engine(terms, dfs)
    got = eng.expand_tiered(Terms(("😀", "missing", "a.b", "", "a.b")))
    assert got == ([(t, dict(zip(terms, dfs))[t]) for t in sorted({"😀", "a.b", ""})], [])


@pytest.fixture(scope="module")
def token_store(spark, tmp_path_factory):
    """A one-segment index whose terms are the dictionary above (each term
    in df docs), built from pre-tokenized rows."""
    terms, dfs = _vocab()
    n_docs = max(dfs)
    rows = [(d, 1, t, 0) for t, df in zip(terms, dfs) if t for d in range(1, df + 1)]
    tokens = spark.createDataFrame(rows, "doc_id long, dl int, term string, pos long")
    docmap = spark.createDataFrame([(d, 1) for d in range(1, n_docs + 1)], "doc_id long, len int")
    store = IndexStore(str(tmp_path_factory.mktemp("expansion_terms")))
    build_segment_from_tokens(spark, store, tokens, docmap, "s0")
    return store, [t for t in terms if t], [df for t, df in zip(terms, dfs) if t]


def test_expansion_without_cached_dictionary(spark, token_store):
    """Both regimes give the same scored head; without the cache the tail
    is a term_stats predicate that selects the cached regime's tail."""
    store, terms, dfs = token_store
    cached = SearchEngine(spark, store)
    cached.prepare_dictionary()
    assert cached._vocab[0].tolist() == terms
    novocab = SearchEngine(spark, store)
    novocab.VOCAB_CACHE_MAX = -1
    novocab.prepare_dictionary()
    leaves = [
        Prefix("a", scored_terms_limit=3), Prefix("😀", scored_terms_limit=1), Wildcard("a.b*", scored_terms_limit=0),
        Wildcard("[ab]*", scored_terms_limit=2), Range("b", "c", scored_terms_limit=4),
        Fuzzy("batch", distance=2, max_terms=3), Fuzzy("bathc", distance=1, max_terms=2, transpositions=True),
    ]
    try:
        for leaf in leaves:
            want = _expected(leaf, terms, dfs)
            assert cached.expand_tiered(leaf) == want, leaf
            head, tail = novocab.expand_tiered(leaf)
            assert head == want[0], leaf
            if isinstance(leaf, Fuzzy) and leaf.transpositions:
                got_tail = {r["term"] for r in tail.collect()} - {t for t, _ in head}
            else:
                got_tail = {r["term"] for r in novocab.term_stats.where(tail).select("term").collect()} - {
                    t for t, _ in head
                }
            assert got_tail == set(want[1]), leaf
    finally:
        novocab.term_stats.unpersist()
