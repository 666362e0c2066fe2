"""WAND == exhaustive property (reference tests/search/wand_test.cpp
methodology) on skewed corpora, plus physical-plan regression guards
(term pushdown must reach the parquet scan; scoring scan must not read
pos_bin)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import BM25, SearchEngine, Term, get_scorer


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    # skewed corpus: long+short docs, Zipf vocab
    corpus = generate_corpus(spark, 400, seed=3, min_tokens=10, max_tokens=400)
    store = IndexStore(str(tmp_path_factory.mktemp("wandix")))
    build_segment(spark, store, corpus, "s0")
    return SearchEngine(spark, store)


def _pairs(df):
    return [(r["gdoc"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("k", [1, 5, 10, 100])
def test_wand_equals_exhaustive_across_k(engine, k):
    terms = [
        r["term"]
        for r in engine.term_stats.orderBy(F.desc("doc_freq")).limit(6).collect()
    ]
    # high, mid, low df terms
    for term in (terms[0], terms[3], terms[-1]):
        wand = _pairs(engine.topk(Term(term), k, wand=True))
        full = _pairs(engine.topk(Term(term), k, wand=False))
        assert wand == full, (term, k)


def test_wand_with_tfidf_scorer(spark, engine):
    eng = SearchEngine(spark, engine.store, scorer=get_scorer("tfidf"))
    term = eng.term_stats.orderBy(F.desc("doc_freq")).limit(1).collect()[0]["term"]
    assert _pairs(eng.topk(Term(term), 10, wand=True)) == _pairs(
        eng.topk(Term(term), 10, wand=False)
    )


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_pushdown_reaches_scan(engine):
    plan = _plan_of(engine._eval(Term("def")))
    assert "PushedFilters" in plan
    assert "EqualTo(term,def)" in plan or "In(term" in plan, plan


def test_scoring_scan_prunes_positions(engine):
    plan = _plan_of(engine._eval(Term("def")))
    # the scoring path must not read the (largest) positions column
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("pos_bin" not in l for l in scan_lines), scan_lines


def _count_exchanges(df) -> int:
    import re

    plan = _plan_of(df)
    # detail-section operator headers: "(4) Exchange" — counted once per op
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def test_single_term_topk_has_no_shuffle(engine):
    """Single-term top-k: scan -> kernel -> TakeOrdered. Zero exchanges —
    one block per (term, doc), so per-doc sums need no co-location."""
    from iresearch_spark.search import Term

    engine.LOCAL_MAX_POSTINGS = 0  # the Spark plan, not the driver-local site
    try:
        assert _count_exchanges(engine.topk(Term("def"), 10)) == 0
    finally:
        del engine.LOCAL_MAX_POSTINGS


def test_flat_boolean_topk_has_one_block_shuffle(engine):
    """Flat Or/And top-k: exactly ONE exchange, and it moves PACKED block
    rows (repartition by segment/chunk), not exploded per-posting rows —
    the 100-TB-critical plan property."""
    from iresearch_spark.search import And, Or, Term

    engine.LOCAL_MAX_POSTINGS = 0  # the Spark plan, not the driver-local site
    try:
        for node in (Or((Term("def"), Term("return"))), And((Term("def"), Term("return")))):
            df = engine.topk(node, 10)
            assert _count_exchanges(df) == 1, _plan_of(df)
            plan = _plan_of(df)
            # the exchange is hashpartitioning on (segment, chunkid)
            assert "chunkid" in plan, plan
    finally:
        del engine.LOCAL_MAX_POSTINGS
