"""End-to-end: build a segment over the synthetic corpus, assert postings /
stats equality vs the oracle (assert_index analogue, reference
tests/index/assert_format.hpp:155-268) and BM25 top-k rank+score identity
(bm25_test.cpp analogue)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS, TextAnalyzer
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.codec import unpack_positions, varint_decode, delta_decode
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import And, Fuzzy, Not, Or, Phrase, Prefix, SearchEngine, Term, Terms
from tests import oracle

STOPS = frozenset(DEFAULT_STOPWORDS)


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, 300, seed=7).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_idx(corpus):
    # oracle doc ids must match the engine's deterministic assignment:
    # 1 + rank by (repo, path, commit)
    rows = corpus.select("repo", "path", "commit", "content").collect()
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    docs = [(i + 1, r["content"]) for i, r in enumerate(rows)]
    return oracle.build_index(docs, STOPS)


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    st = IndexStore(root)
    build_segment(spark, st, corpus, "seg0")
    return st


@pytest.fixture(scope="module")
def engine(spark, store):
    return SearchEngine(spark, store)


def test_manifest(store, oracle_idx):
    m = store.current()
    assert m.gen == 1
    assert m.docs_count == oracle_idx.n_docs
    assert m.sum_len == sum(oracle_idx.doclen.values())
    assert m.segments[0].base_doc == 0


def test_doclen_matches_oracle(spark, store, oracle_idx):
    got = {r["doc_id"]: r["len"] for r in store.read(spark, "seg0", "doclen").collect()}
    assert got == oracle_idx.doclen


def test_term_stats_match_oracle(spark, store, oracle_idx):
    got = {
        r["term"]: (r["doc_freq"], r["total_tf"])
        for r in store.read(spark, "seg0", "term_stats").collect()
    }
    exp = {
        t: (oracle_idx.doc_freq(t), oracle_idx.total_tf(t))
        for t in oracle_idx.postings
    }
    assert got == exp


def test_packed_postings_match_oracle(spark, store, oracle_idx):
    rows = store.read(spark, "seg0", "postings").collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    assert set(by_term) == set(oracle_idx.postings)
    for term, blocks in by_term.items():
        blocks.sort(key=lambda r: r["block_id"])
        # block ids strictly increasing, doc ranges disjoint ascending
        ids = [b["block_id"] for b in blocks]
        assert ids == sorted(set(ids))
        decoded = [delta_decode(varint_decode(b["docs_bin"])).astype(int) for b in blocks]
        for d1, d2 in zip(decoded, decoded[1:]):
            assert d1[-1] < d2[0]
        assert "last_doc" not in blocks[0] and "dls_bin" not in blocks[0]
        docs, tfs, poss = [], [], []
        for b, d in zip(blocks, decoded):
            t = varint_decode(b["tfs_bin"]).astype(int)
            p = unpack_positions(b["pos_bin"], t)
            assert len(d) == b["doc_count"] == len(t)
            assert b["first_doc"] == d[0] and all(np.diff(d) > 0)
            assert b["max_tf"] == t.max()
            assert all(len(pp) == tf for pp, tf in zip(p, t))
            # the block-max norm is the smallest docmap len of its docs
            assert b["min_dl"] == min(oracle_idx.doclen[dd] for dd in d)
            docs.extend(d)
            tfs.extend(t)
            poss.extend([list(map(int, x)) for x in p])
        # blocks hold <=128 docs; full except (term, chunk) tails
        sizes = [b["doc_count"] for b in blocks]
        assert all(0 < s <= 128 for s in sizes)
        exp = oracle_idx.postings[term]
        assert docs == [d for d, _, _ in exp]
        assert tfs == [tf for _, tf, _ in exp]
        assert poss == [ps for _, _, ps in exp]


def _topk_engine(engine, node, k=10):
    return [(r["gdoc"], r["score"]) for r in engine.topk(node, k).collect()]


def _assert_rank_identical(got, exp):
    assert [g for g, _ in got] == [d for d, _ in exp], (got, exp)
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(float(es), abs=0.0), (gd, gs, es)


def _pick_terms(oracle_idx):
    """High/Med/Low-df terms from the corpus."""
    by_df = sorted(oracle_idx.postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    high = by_df[0][0]
    med = by_df[len(by_df) // 20][0]
    low = by_df[len(by_df) // 2][0]
    return high, med, low


def test_bm25_term_topk_rank_identical(engine, oracle_idx):
    for term in _pick_terms(oracle_idx):
        got = _topk_engine(engine, Term(term), 10)
        exp = oracle.topk(oracle.score_term(oracle_idx, term), 10)
        _assert_rank_identical(got, exp)


def test_bm25_wand_equals_exhaustive(engine, oracle_idx):
    high, med, _ = _pick_terms(oracle_idx)
    for term in (high, med):
        wand = [(r["gdoc"], r["score"]) for r in engine.topk(Term(term), 10, wand=True).collect()]
        ex = [(r["gdoc"], r["score"]) for r in engine.topk(Term(term), 10, wand=False).collect()]
        assert wand == ex


def test_bm25_and_or_rank_identical(engine, oracle_idx):
    high, med, low = _pick_terms(oracle_idx)
    got = _topk_engine(engine, And((Term(high), Term(med))), 10)
    exp = oracle.topk(oracle.score_and(oracle_idx, [high, med]), 10)
    _assert_rank_identical(got, exp)

    got = _topk_engine(engine, Or((Term(high), Term(low))), 10)
    exp = oracle.topk(oracle.score_or(oracle_idx, [high, low]), 10)
    _assert_rank_identical(got, exp)


def test_min_match(engine, oracle_idx):
    high, med, low = _pick_terms(oracle_idx)
    got = _topk_engine(engine, Or((Term(high), Term(med), Term(low)), min_match=2), 10)
    exp = oracle.topk(oracle.score_or(oracle_idx, [high, med, low], min_match=2), 10)
    _assert_rank_identical(got, exp)


def test_not_exclusion(engine, oracle_idx):
    high, med, _ = _pick_terms(oracle_idx)
    got = _topk_engine(engine, And((Term(high), Not(child=Term(med)))), 10)
    pos = oracle.score_term(oracle_idx, high)
    neg = set(oracle.score_term(oracle_idx, med))
    exp = oracle.topk({d: s for d, s in pos.items() if d not in neg}, 10)
    _assert_rank_identical(got, exp)


def test_phrase_rank_identical(engine, oracle_idx, corpus):
    # find a real adjacent bigram from the first doc's token stream
    bigram = None
    rows = corpus.select("repo", "path", "commit", "content").collect()
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    toks = oracle.tokenize(rows[0]["content"], STOPS)
    for (p1, t1), (p2, t2) in zip(toks, toks[1:]):
        if p2 == p1 + 1 and t1 != t2:
            bigram = (t1, t2)
            break
    assert bigram, "corpus should contain an adjacent bigram"
    got = _topk_engine(engine, Phrase(bigram), 10)
    exp = oracle.topk(oracle.score_phrase(oracle_idx, list(bigram)), 10)
    _assert_rank_identical(got, exp)


def test_prefix_and_fuzzy_run(engine, oracle_idx):
    high, _, _ = _pick_terms(oracle_idx)
    pre = engine.topk(Prefix(high[:3]), 10).collect()
    assert len(pre) > 0
    fz = engine.topk(Fuzzy(high, distance=1), 10).collect()
    assert len(fz) > 0


def test_terms_filter(engine, oracle_idx):
    high, med, low = _pick_terms(oracle_idx)
    got = _topk_engine(engine, Terms((high, med, low)), 10)
    exp = oracle.topk(oracle.score_or(oracle_idx, [high, med, low]), 10)
    _assert_rank_identical(got, exp)
