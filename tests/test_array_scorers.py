"""Array scorers (`Scorer.prepare_terms`): one scorer for many terms must
equal the per-term scorers (`Scorer.prepare`) bit for bit — in each
term's per-term factor (c0 / idf) and in the scores of random (tf, dl)
postings gathered by term code — for every scorer family. No Spark."""

from __future__ import annotations

import math

import numpy as np
import pytest

from iresearch_spark.search.scorers import (
    BM25,
    TFIDF,
    ConstTermScorer,
    FieldStats,
    PreciseBM25,
    PreciseConstTermScorer,
    PreciseTFIDF,
    TermScorer,
)

FIELD = FieldStats(docs_count=200_000, sum_len=9_000_000, max_dl=4_000)
TINY = FieldStats(docs_count=5_000, sum_len=400_000, max_dl=255)

FAMILIES = {
    "bm25": (BM25(), FIELD),
    "bm15": (BM25(b=0.0), FIELD),
    "bm1": (BM25(k=0.0), FIELD),
    "tiny_norms": (BM25(tiny_norms=True), TINY),
    "auto_norms_tiny": (BM25(auto_norms=True), TINY),
    "auto_norms_wide": (BM25(auto_norms=True), FIELD),
    "legacy_norms": (BM25(legacy_norms=True), FIELD),
    "tfidf": (TFIDF(), FIELD),
    "tfidf_norms": (TFIDF(with_norms=True), FIELD),
    "bm25_precise": (PreciseBM25(), FIELD),
    "bm1_precise": (PreciseBM25(k=0.0), FIELD),
    "legacy_precise": (PreciseBM25(legacy_norms=True), FIELD),
    "tfidf_precise": (PreciseTFIDF(), FIELD),
    "tfidf_norms_precise": (PreciseTFIDF(with_norms=True), FIELD),
}


def _bits(a) -> np.ndarray:
    a = np.atleast_1d(np.asarray(a))
    return a.view(np.uint32 if a.dtype == np.float32 else np.uint64)


def _same(a, b) -> bool:
    a, b = np.atleast_1d(np.asarray(a)), np.atleast_1d(np.asarray(b))
    return a.dtype == b.dtype and np.array_equal(_bits(a), _bits(b))


def _check(arr: TermScorer, terms: list[TermScorer], rng: np.random.Generator, max_dl: int) -> None:
    """`arr` holds `terms` in order: factors and scores agree bit for bit."""
    f = arr.per_term
    assert all(type(t) is type(arr) and t.family() == arr.family() for t in terms)
    dtype = arr.dtype
    assert _same(getattr(arr, f), np.array([getattr(t, f) for t in terms], dtype=dtype))
    n = 4_000
    codes = rng.integers(0, len(terms), n)
    tfs = rng.integers(1, 60, n).astype(dtype)
    dls = rng.integers(1, max_dl + 1, n).astype(dtype)
    got = arr.scores(tfs, dls, codes)
    assert got.dtype == dtype
    for j, t in enumerate(terms):
        m = codes == j
        assert _same(got[m], t.scores(tfs[m], dls[m])), j
    assert _same(arr.term_ubs(), [t.term_ub() for t in terms])


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_prepare_terms_equals_prepare_bit_for_bit(family):
    scorer, field = FAMILIES[family]
    rng = np.random.default_rng(7)
    # repeated doc_freqs, the extremes, and a wide random spread
    dfs = np.concatenate(([1, 1, 2, field.docs_count, 3, 2], rng.integers(1, field.docs_count, 300)))
    for boosts in (1.0, 2.5, rng.uniform(0.1, 4.0, dfs.size)):
        arr = scorer.prepare_terms(field, dfs, boosts)
        b = np.broadcast_to(boosts, dfs.shape)
        terms = [scorer.prepare(field, int(d), float(x)) for d, x in zip(dfs, b)]
        _check(arr, terms, rng, field.max_dl)


def test_prepare_terms_of_no_terms():
    for scorer, field in FAMILIES.values():
        arr = scorer.prepare_terms(field, np.empty(0, np.int64))
        assert np.size(getattr(arr, arr.per_term)) == 0
        assert arr.scores(np.empty(0), np.empty(0), np.empty(0, np.int64)).size == 0


def test_idf_is_the_scalar_log1p_per_distinct_df():
    """np.log1p and math.log1p disagree in the last float64 bit for some
    arguments; the array path evaluates the scalar formula once per
    distinct doc_freq, so every idf (and every precise c0) matches."""
    field = FieldStats(docs_count=1_000_000, sum_len=50_000_000)
    dfs = np.arange(1, 200_001, dtype=np.int64)
    x = (field.docs_count - dfs + 0.5) / (dfs + 0.5)
    scalar = np.array([math.log1p(v) for v in x.tolist()])
    assert not _same(np.log1p(x), scalar), "no differing argument: the check below proves nothing"
    for scorer in (PreciseBM25(), BM25(), PreciseTFIDF(), TFIDF()):
        want = np.array([scorer.idf(int(d), field) for d in dfs], dtype=scorer.dtype)
        assert _same(scorer._idfs(dfs, field), want)
        assert _same(scorer._idfs(dfs[::-1], field), want[::-1])


def test_terms_boosts_and_leaf_boost_compose_like_prepare():
    """A Terms leaf with per-term boosts under a leaf boost: the array
    boost is (query boost * leaf boost) * term boost, as the per-term
    prepare received it."""
    rng = np.random.default_rng(3)
    dfs = rng.integers(1, 1000, 50)
    term_boosts = rng.uniform(0.2, 3.0, 50)
    q_boost, leaf_boost = 0.7, 1.9
    for scorer, field in FAMILIES.values():
        arr = scorer.prepare_terms(field, dfs, q_boost * leaf_boost * term_boosts)
        terms = [scorer.prepare(field, int(d), q_boost * leaf_boost * float(tb)) for d, tb in zip(dfs, term_boosts)]
        _check(arr, terms, rng, field.max_dl)


@pytest.mark.parametrize("zero", [ConstTermScorer, PreciseConstTermScorer])
def test_zero_tail_scorer_and_concat(zero):
    """The unscored tail's shared zero scorer (one array of zeros) scores
    0 exactly like the per-term zero scorer; concat of same-family term
    scorers (a BM1 head and the zero tail are one family) keeps every
    term's score."""
    rng = np.random.default_rng(11)
    tail = zero(np.zeros(40, zero.dtype))
    _check(tail, [zero(0.0)] * 40, rng, 500)
    head = BM25(k=0.0) if zero is ConstTermScorer else PreciseBM25(k=0.0)
    heads = [head.prepare(FIELD, d, 1.5) for d in (3, 90, 7)]
    both = TermScorer.concat([head.prepare_terms(FIELD, [3, 90, 7], 1.5), tail])
    _check(both, heads + [zero(0.0)] * 40, rng, 500)
    bm25 = [BM25().prepare(FIELD, d) for d in (5, 6, 5)]
    _check(TermScorer.concat(bm25), bm25, rng, 4000)
