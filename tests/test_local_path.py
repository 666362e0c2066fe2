"""Driver-local top-k site: SearchEngine.topk runs a small single-scan
query's kernel in-process over pyarrow-read postings instead of launching
Spark jobs, and topk_batch runs its shared scan the same way. Pinned here
on a 2-segment store with deletes:

- the local rows equal the Spark rows (forced with LOCAL_MAX_POSTINGS = 0
  vs a large budget) and both equal tests/oracle.py, in the inline and the
  broadcast tombstone tiers, for BM25, TFIDF and PreciseBM25 engines, for
  single queries and for batches;
- a local query or batch launches zero Spark jobs (statusTracker, job
  group), and so does opening an engine and pulling its dictionary, which
  equals the Spark groupBy twin;
- the no-vocab regime, the anti-join tombstone tier, the general evaluator
  and queries or batches over the budget stay on Spark;
- every `_eval` output is tombstone-free in all three tiers, so callers
  need no second mask;
- a local result's collect(), toPandas(), count(), schema and columns
  answer from pandas (no JVM relation, no job) with the rows, types and
  dtypes of the materialized relation, other Spark APIs build it once,
  and concurrent local queries agree with sequential ones;
- the local read picks row groups by cached footer term ranges (a
  64-row-group rewrite stays oracle-identical and reads fewer groups),
  and the run record carries row_groups and the kernel's block counters.
"""

from __future__ import annotations

import logging
import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

import iresearch_spark.search.executor as X
from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import (
    All,
    And,
    Fuzzy,
    Not,
    Or,
    Phrase,
    PreciseBM25,
    Prefix,
    Proxy,
    SamePosition,
    SearchEngine,
    Term,
    Terms,
    VarPhrase,
    Wildcard,
    get_scorer,
)
from iresearch_spark.search.query import normalize
from tests import oracle

STOPS = frozenset(DEFAULT_STOPWORDS)
F32 = np.float32
K = 10
BIG = 10**12


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    """Two segments, ~1/11 of the docs deleted; the oracle index holds
    every doc (the engine keeps deleted docs in idf/avgdl until a merge)."""
    store = IndexStore(str(tmp_path_factory.mktemp("local_ix")))
    docs: list[tuple[int, str]] = []
    victims: list[tuple[str, int]] = []
    for name, seed, n in (("s0", 41, 220), ("s1", 42, 180)):
        corpus = generate_corpus(spark, n, seed=seed).persist()
        build_segment(spark, store, corpus, name)
        rows = corpus.select("repo", "path", "commit", "content").collect()
        corpus.unpersist()
        rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
        base = {s.name: s.base_doc for s in store.current().segments}[name]
        docs += [(base + i + 1, r["content"]) for i, r in enumerate(rows)]
        victims += [(name, i + 1) for i in range(n) if (base + i + 1) % 11 == 3]
    store.remove(spark, spark.createDataFrame(victims, "segment string, doc_id long"))
    base = {s.name: s.base_doc for s in store.current().segments}
    deleted = {base[s] + d for s, d in victims}
    idx = oracle.build_index(docs, STOPS)
    by_df = sorted(idx.postings, key=lambda t: (-idx.doc_freq(t), t))
    hi, med, low = by_df[0], by_df[len(by_df) // 8], by_df[len(by_df) // 2]
    toks = oracle.tokenize(docs[0][1], STOPS)
    bigram = next((a, b) for (p, a), (q, b) in zip(toks, toks[1:]) if q == p + 1)
    return store, idx, deleted, (hi, med, low, bigram)


def _rows(df) -> list[tuple[int, float]]:
    return [(r["gdoc"], r["score"]) for r in df.collect()]


def _top(scores: dict, deleted: set[int]) -> list[tuple[int, float]]:
    return oracle.topk({d: s for d, s in scores.items() if d not in deleted}, K)


def _sum_legs(legs, min_match: int = 1, merge: str = "sum") -> dict:
    if merge == "sum":
        return oracle.merge_sum(legs, min_match)
    got: dict[int, list] = {}
    for leg in legs:
        for d, s in leg.items():
            got.setdefault(d, []).append(s)
    fn = max if merge == "max" else min
    return {d: F32(fn(ss)) for d, ss in got.items() if len(ss) >= min_match}


def _multiterm(idx, matched: list[str], limit: int) -> dict:
    """Scored head = top `limit` matched terms by (df desc, term asc);
    every other matched term surfaces its docs at score 0."""
    head = sorted(matched, key=lambda t: (-idx.doc_freq(t), t))
    out = _sum_legs([oracle.score_term(idx, t) for t in head[:limit]])
    for t in head[limit:]:
        for d, _tf, _ps in idx.postings[t]:
            out.setdefault(d, F32(0.0))
    return out


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _same_position(idx, term: str) -> dict:
    """SamePosition((term, term)): phrase frequency = tf, idf = the two
    slots' idfs summed in float32."""
    idf = F32(oracle.bm25_idf(idx.n_docs, idx.doc_freq(term)))
    idf = F32(idf + idf)
    return {d: oracle.bm25_score(tf, idx.doclen[d], idf, idx.avg_dl) for d, tf, _ in idx.postings[term]}


def _cases(ix) -> list[tuple[str, object, dict]]:
    """(label, query, oracle scores) — every point_query category plus
    boosted Terms, a kmax merge, a VarPhrase, a SamePosition and a Phrase
    with explicit offsets (relative: (70, 71) is the bigram)."""
    _, idx, _, (hi, med, low, bigram) = ix
    st = lambda t, b=1.0: oracle.score_term(idx, t, boost=b)  # noqa: E731
    vocab = sorted(idx.postings)
    pre = hi[:3]
    wc = f"{hi[0]}*{hi[-1]}"
    wrx = re.compile(re.escape(hi[0]) + ".*" + re.escape(hi[-1]), re.DOTALL)
    fz = hi[:-1] + ("x" if hi[-1] != "x" else "y")
    slot2 = sorted({bigram[1], low})
    return [
        ("HighTerm", Term(hi), st(hi)),
        ("MedTerm", Term(med), st(med)),
        ("LowTerm", Term(low), st(low)),
        ("AndHighMed", And((Term(hi), Term(med))), oracle.score_and(idx, [hi, med])),
        ("OrHighMed", Or((Term(hi), Term(med))), oracle.score_or(idx, [hi, med])),
        (
            "MinMatch2of3",
            Or((Term(hi), Term(med), Term(low)), min_match=2),
            oracle.score_or(idx, [hi, med, low], min_match=2),
        ),
        ("Phrase", Phrase(bigram), oracle.score_phrase(idx, list(bigram))),
        ("Prefix3", Prefix(pre), _multiterm(idx, [t for t in vocab if t.startswith(pre)], 1024)),
        ("Wildcard", Wildcard(wc), _multiterm(idx, [t for t in vocab if wrx.fullmatch(t)], 1024)),
        ("Fuzzy1", Fuzzy(fz, distance=1), _multiterm(idx, [t for t in vocab if _lev(t, fz) <= 1], 50)),
        (
            "TermsBoosted",
            Terms((hi, med), boosts=(2.0, 0.5)),
            _sum_legs([st(hi, 2.0), st(med, 0.5)]),
        ),
        (
            "OrMax",
            Or((Term(hi), Term(med)), merge="max"),
            _sum_legs([st(hi), st(med)], merge="max"),
        ),
        (
            "VarPhrase",
            VarPhrase((Term(bigram[0]), Terms(tuple(slot2)))),
            oracle.score_varphrase(idx, [[bigram[0]], slot2]),
        ),
        ("SamePosition", SamePosition((med, med)), _same_position(idx, med)),
        ("PhraseOffsets", Phrase(bigram, offsets=(70, 71)), oracle.score_phrase(idx, list(bigram))),
        ("Absent", Term("zzqqxxnotaterm"), {}),
    ]


def _engine(spark, store, scorer=None, **patch) -> SearchEngine:
    with pytest.MonkeyPatch.context() as mp:
        for name, value in patch.items():
            mp.setattr(X, name, value)
        eng = SearchEngine(spark, store, scorer=scorer)
    eng.prepare_dictionary()
    return eng


def _both(eng: SearchEngine, node, k: int = K):
    eng.LOCAL_MAX_POSTINGS = BIG
    local = _rows(eng.topk(node, k))
    assert eng.last_run["path"] == "local", eng.last_run
    eng.LOCAL_MAX_POSTINGS = 0
    spark_rows = _rows(eng.topk(node, k))
    # a query that scans nothing (postings_est 0) is within any budget
    assert eng.last_run["path"] == "spark" or not eng.last_run["postings_est"]
    del eng.LOCAL_MAX_POSTINGS
    return local, spark_rows


@pytest.mark.parametrize("tier", ["inline", "broadcast"])
def test_local_equals_spark_equals_oracle(spark, ix, tier):
    store, _idx, deleted, _ = ix
    patch = {"MAX_INLINE_TOMBSTONES": 0} if tier == "broadcast" else {}
    eng = _engine(spark, store, **patch)
    assert eng._tombstone_tier() == tier
    for label, node, scores in _cases(ix):
        local, spark_rows = _both(eng, node)
        assert local == spark_rows, label
        assert local == _top(scores, deleted), label
        if label != "Absent":
            assert local, label
        assert eng.last_run["tombstone_tier"] == tier


def test_local_scorers_tfidf_and_precise(spark, ix):
    store, idx, deleted, (hi, med, low, bigram) = ix
    tfidf = _engine(spark, store, scorer=get_scorer("tfidf"))
    idf = oracle.tfidf_idf(idx.n_docs, idx.doc_freq(hi))
    exp = {
        d: oracle.tfidf_score(tf, idx.doclen[d], idf) for d, tf, _ in idx.postings[hi]
    }
    local, spark_rows = _both(tfidf, Term(hi))
    assert local == spark_rows == _top(exp, deleted)
    for node in (Or((Term(hi), Term(med))), Phrase(bigram)):
        local, spark_rows = _both(tfidf, node)
        assert local == spark_rows and local

    precise = _engine(spark, store, scorer=PreciseBM25())
    k1, b = 1.2, 0.75
    n = idx.doc_freq(med)
    pidf = math.log1p((idx.n_docs - n + 0.5) / (n + 0.5))
    exp = {}
    for d, tf, _ in idx.postings[med]:
        s = pidf * ((k1 + 1.0) * tf) / (k1 * ((1.0 - b) + b * idx.doclen[d] / idx.avg_dl) + tf)
        exp[d] = math.floor(s * 1e6 + 0.5) / 1e6
    want = sorted(((d, s) for d, s in exp.items() if d not in deleted), key=lambda t: (-t[1], t[0]))[:K]
    local, spark_rows = _both(precise, Term(med))
    assert local == spark_rows == want
    for node in (And((Term(hi), Term(med))), Phrase(bigram), Prefix(hi[:2])):
        local, spark_rows = _both(precise, node)
        assert local == spark_rows and local


def test_local_topk_launches_no_job(spark, ix):
    store, *_ = ix
    eng = _engine(spark, store)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, (label, node, _) in enumerate(_cases(ix)):
        group = f"local-path-{i}"
        sc.setJobGroup(group, label)
        try:
            eng.topk(node, K).collect()
        finally:
            sc.setJobGroup("local-path-idle", "")
        assert eng.last_run["path"] == "local", label
        assert tracker.getJobIdsForGroup(group) == [], label


def test_budget_novocab_antijoin_and_general_stay_on_spark(spark, ix, caplog):
    store, _idx, deleted, (hi, med, low, bigram) = ix
    eng = _engine(spark, store)
    node = Or((Term(hi), Term(med)))
    exp = _rows(eng.topk(node, K))
    est = eng.last_run["postings_est"]
    assert eng.last_run["path"] == "local" and est == eng._stats_for([hi])[hi] + eng._stats_for([med])[med]
    eng.LOCAL_MAX_POSTINGS = est - 1  # one posting over budget
    assert _rows(eng.topk(node, K)) == exp
    assert eng.last_run["path"] == "spark"
    del eng.LOCAL_MAX_POSTINGS

    # general evaluator shapes (Not, nesting) never run locally
    for shape in (And((Term(hi), Not(Term(med)))), Or((And((Term(hi), Term(med))), Term(low)))):
        got = _rows(eng.topk(shape, K))
        assert eng.last_run["path"] == "spark" and eng.last_run["postings_est"] is None
        assert got and not {d for d, _ in got} & deleted

    novocab = SearchEngine(spark, store)
    novocab.VOCAB_CACHE_MAX = -1
    for q in (Term(hi), Prefix(hi[:2], scored_terms_limit=2)):
        ref = _rows(eng.topk(q, K))
        assert _rows(novocab.topk(q, K)) == ref
        assert novocab.last_run["path"] == "spark"

    antijoin = _engine(spark, store, MAX_BCAST_TOMBSTONES=0)
    for q in (node, Phrase(bigram)):
        ref = _rows(eng.topk(q, K))
        assert _rows(antijoin.topk(q, K)) == ref
        run = antijoin.last_run
        assert run["path"] == "spark" and run["tombstone_tier"] == "antijoin"
        assert run["wand"] is False

    # one DEBUG record per topk, nothing at the default level
    caplog.clear()
    eng.topk(node, K)
    assert not [r for r in caplog.records if r.name == X.__name__]
    with caplog.at_level(logging.DEBUG, logger=X.__name__):
        eng.topk(node, K)
    assert len(caplog.records) == 1 and "local" in caplog.records[0].getMessage()


@pytest.mark.parametrize("tier", ["inline", "broadcast", "antijoin"])
def test_eval_outputs_are_tombstone_free(spark, ix, tier):
    """Every `_eval` shape masks deletes itself (kernels in-kernel, the
    anti-join tier after the kernel, doc_universe by join), so execute,
    topk's general path, nested_topk and multi-field evaluation need no
    second mask."""
    store, idx, deleted, (hi, med, low, bigram) = ix
    patch = {
        "inline": {},
        "broadcast": {"MAX_INLINE_TOMBSTONES": 0},
        "antijoin": {"MAX_BCAST_TOMBSTONES": 0},
    }[tier]
    eng = _engine(spark, store, **patch)
    assert eng._tombstone_tier() == tier
    live = set(idx.doclen) - deleted
    shapes = [
        Term(hi),
        Phrase(bigram),
        Prefix(hi[:2]),
        Not(Term(med)),
        And((Term(hi), Not(Term(med)))),
        Or((And((Term(hi), Term(med))), Term(low))),
        Proxy(Term(med)),
        All(),
    ]
    for node in shapes:
        got = {r["gdoc"] for r in eng.execute(node).collect()}
        assert got and got <= live, node
    assert {r["gdoc"] for r in eng.execute(All()).collect()} == live
    assert {r["gdoc"] for r in eng.execute(Term(hi)).collect()} == {
        d for d, _, _ in idx.postings[hi]
    } - deleted
    # the general topk path agrees with the oracle under every tier
    shape = Or((And((Term(hi), Term(med))), Term(low)))
    exp = _sum_legs([oracle.score_and(idx, [hi, med]), oracle.score_term(idx, low)])
    assert _rows(eng.topk(shape, K)) == _top(exp, deleted)


# ------------------------------------------------------------------ batches

BATCH_LABELS = (
    "HighTerm",
    "MedTerm",
    "LowTerm",
    "AndHighMed",
    "OrHighMed",
    "MinMatch2of3",
    "OrMax",
    "TermsBoosted",
    "Prefix3",
    "Wildcard",  # many legs: WAND off by the leg cap in topk
    "Fuzzy1",
    "Phrase",  # phrase legs join the shared scan
    "VarPhrase",
    "SamePosition",
    "PhraseOffsets",
    "Absent",
)
PHRASE_LABELS = ("Phrase", "VarPhrase", "SamePosition", "PhraseOffsets")


def _batch_cases(ix, labels=BATCH_LABELS) -> dict[str, tuple[object, dict]]:
    return {label: (node, scores) for label, node, scores in _cases(ix) if label in labels}


def _batch_rows(df) -> list[tuple[str, int, float]]:
    return [(r["query"], r["gdoc"], r["score"]) for r in df.collect()]


def _batch_oracle(cases: dict, deleted: set[int]) -> list[tuple[str, int, float]]:
    return [
        (name, d, s) for name in sorted(cases) for d, s in _top(cases[name][1], deleted)
    ]


def _batch_both(eng: SearchEngine, queries: dict):
    eng.LOCAL_MAX_POSTINGS = BIG
    local = _batch_rows(eng.topk_batch(queries, K))
    local_run = eng.last_run
    assert local_run["path"] == "local", local_run
    eng.LOCAL_MAX_POSTINGS = 0
    spark_rows = _batch_rows(eng.topk_batch(queries, K))
    assert eng.last_run["path"] == "spark", eng.last_run
    del eng.LOCAL_MAX_POSTINGS
    return local, spark_rows, local_run


@pytest.mark.parametrize("tier", ["inline", "broadcast"])
def test_batch_local_equals_spark_equals_oracle(spark, ix, tier):
    store, _idx, deleted, _ = ix
    patch = {"MAX_INLINE_TOMBSTONES": 0} if tier == "broadcast" else {}
    eng = _engine(spark, store, **patch)
    cases = _batch_cases(ix)
    queries = {name: node for name, (node, _) in cases.items()}
    local, spark_rows, run = _batch_both(eng, queries)
    assert local == spark_rows == _batch_oracle(cases, deleted)
    assert {q for q, _, _ in local} == set(cases) - {"Absent"}
    assert run["tombstone_tier"] == tier
    assert (run["n_batched"], run["n_fallback"]) == (len(cases), 0)
    # the fan-out-weighted estimate: a term's doc_freq once per subscriber
    # (a phrase subscribes once to each of its terms)
    subs: dict[str, int] = {}
    for name, node in queries.items():
        legs = eng._query_spec(normalize(node))[0]
        terms = {t for ts in legs.slots for t in ts} if isinstance(legs, X._PhraseLeg) else legs.terms
        for t in terms:
            subs[t] = subs.get(t, 0) + 1
    stats = eng._stats_for(list(subs))
    assert run["postings_est"] == sum(stats[t] * n for t, n in subs.items())

    # an all-phrase batch is one shared scan too
    ph = _batch_cases(ix, PHRASE_LABELS)
    local, spark_rows, run = _batch_both(eng, {n: q for n, (q, _) in ph.items()})
    assert local == spark_rows == _batch_oracle(ph, deleted) and local
    assert (run["n_batched"], run["n_fallback"]) == (len(PHRASE_LABELS), 0)
    assert run["postings_est"] is not None


def test_phrase_leg_keys_never_cross_docs():
    """A phrase key below 0 (an occurrence before its slot's offset) is
    dropped, never OR-ed into another doc's key: with offsets (70, 71),
    doc 1's only `a`@2 and doc 2's only `b`@3 match nothing, while doc 4's
    `a b` at 80-81 still does; with offsets (0, 1) docs 3 and 4 match."""
    from iresearch_spark.index.codec import pack_doc_block, pack_positions, varint_encode
    from iresearch_spark.search.scorers import ConstTermScorer

    def blocks(occ: dict) -> pd.DataFrame:
        # the group's norm row (term NULL: every doc has dl 9) comes first,
        # as the Spark site sorts it
        ids = np.arange(1, 5, dtype=np.uint64)
        rows = [{
            "segment": "s", "term": None, "first_doc": 1, "chunkid": 0,
            "docs_bin": pack_doc_block(ids, ids)[0], "dls_bin": varint_encode(np.full(4, 9, dtype=np.uint64)),
        }]
        for term, by_doc in occ.items():
            docs = np.array(sorted(by_doc), dtype=np.uint64)
            docs_bin, tfs_bin = pack_doc_block(docs, np.ones(docs.size, dtype=np.uint64))
            rows.append({
                "segment": "s", "term": term, "first_doc": int(docs[0]), "max_tf": 1, "min_dl": 9,
                "docs_bin": docs_bin, "tfs_bin": tfs_bin, "dls_bin": None,
                "pos_bin": pack_positions([[by_doc[d]] for d in docs]), "chunkid": 0,
            })
        return pd.DataFrame(rows)

    def gdocs(occ: dict, offsets: list[int]) -> list[int]:
        leg = X._PhraseLeg([["a"], ["b"]], offsets, ConstTermScorer(1.0), {"a": 3, "b": 3})
        kern = X._sums_kernel(
            X._leg_table([], ["a", "b"])[0], np.array([1]), np.array([0.0]), np.array([0]), {"s": 0},
            k=None, mode="f32", deleted=None, grouped=True, phrases=[(0, leg)],
        )
        batch = pa.RecordBatch.from_pandas(blocks(occ), preserve_index=False)
        return sorted(g for out in kern(iter([batch])) for g in out.column("gdoc").to_pylist())

    assert gdocs({"a": {1: 2}, "b": {2: 3}}, [70, 71]) == []
    occ = {"a": {1: 2, 3: 5, 4: 80}, "b": {2: 3, 3: 6, 4: 81}}
    assert gdocs(occ, [70, 71]) == [4]
    assert gdocs(occ, [0, 1]) == [3, 4]


@pytest.mark.parametrize("tier", ["inline", "broadcast"])
def test_spark_scan_reads_positions_only_for_phrase_legs(spark, ix, tier):
    """On the Spark site a phrase-free plan's scan does not read pos_bin;
    a mixed batch reads it, nulled for non-phrase terms before the
    shuffle, and its rows equal the local rows and the oracle."""
    store, _idx, deleted, _ = ix
    patch = {"MAX_INLINE_TOMBSTONES": 0} if tier == "broadcast" else {}
    eng = _engine(spark, store, **patch)
    terms_only = {n: q for n, (q, _) in _batch_cases(ix).items() if n not in PHRASE_LABELS}
    mixed = _batch_cases(ix, ("HighTerm", "AndHighMed", "Phrase", "PhraseOffsets", "VarPhrase"))
    queries = {n: q for n, (q, _) in mixed.items()}

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    eng.LOCAL_MAX_POSTINGS = 0
    for df in (eng.topk(terms_only["AndHighMed"], K), eng.topk_batch(terms_only, K)):
        assert eng.last_run["path"] == "spark" and "pos_bin" not in plan(df)
    df = eng.topk_batch(queries, K)
    assert eng.last_run["path"] == "spark" and eng.last_run["n_fallback"] == 0
    assert "pos_bin" in plan(df) and "CASE WHEN" in plan(df)
    spark_rows = _batch_rows(df)
    eng.LOCAL_MAX_POSTINGS = BIG
    local = _batch_rows(eng.topk_batch(queries, K))
    assert eng.last_run["path"] == "local"
    assert spark_rows == local == _batch_oracle(mixed, deleted) and local


def test_batch_local_launches_no_job(spark, ix):
    store, *_ = ix
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("local-batch-open", "open + dictionary + one query")
    try:
        eng = SearchEngine(spark, store)
        eng.prepare_dictionary()
        eng.topk(_cases(ix)[0][1], K).collect()
        assert eng.last_run["path"] == "local"
        queries = {name: node for name, (node, _) in _batch_cases(ix).items()}
        eng.topk_batch(queries, K).collect()
        assert eng.last_run["path"] == "local"
        empty = eng.topk_batch({"a": Term("zzqqxxnotaterm")}, K).collect()
        assert empty == [] and eng.last_run["path"] == "local"
    finally:
        sc.setJobGroup("local-path-idle", "")
    assert tracker.getJobIdsForGroup("local-batch-open") == []


def test_batch_budget_novocab_antijoin_and_nested_stay_on_spark(spark, ix, caplog):
    store, _idx, deleted, (hi, med, low, bigram) = ix
    eng = _engine(spark, store)
    cases = _batch_cases(ix)
    queries = {name: node for name, (node, _) in cases.items()}
    exp = _batch_oracle(cases, deleted)
    assert _batch_rows(eng.topk_batch(queries, K)) == exp
    est = eng.last_run["postings_est"]
    assert eng.last_run["path"] == "local"
    eng.LOCAL_MAX_POSTINGS = est - 1  # one posting over budget
    assert _batch_rows(eng.topk_batch(queries, K)) == exp
    assert eng.last_run["path"] == "spark" and eng.last_run["postings_est"] == est
    del eng.LOCAL_MAX_POSTINGS

    antijoin = _engine(spark, store, MAX_BCAST_TOMBSTONES=0)
    assert _batch_rows(antijoin.topk_batch(queries, K)) == exp
    run = antijoin.last_run
    assert run["path"] == "spark" and run["tombstone_tier"] == "antijoin"

    novocab = SearchEngine(spark, store)
    novocab.VOCAB_CACHE_MAX = -1
    assert _batch_rows(novocab.topk_batch(queries, K)) == exp
    assert novocab.last_run["path"] == "spark" and novocab.last_run["postings_est"] is None

    # Not / nested fallbacks run the general evaluator on Spark; the
    # shared scan beside them still runs locally and unions in
    nested = {
        "not": And((Term(hi), Not(Term(med)))),
        "nest": Or((And((Term(hi), Term(med))), Term(low))),
        "t": Term(hi),
    }
    got = _batch_rows(eng.topk_batch(nested, K))
    run = eng.last_run
    assert run["path"] == "spark" and (run["n_batched"], run["n_fallback"]) == (1, 2)
    want = sorted(
        ((n, r["gdoc"], r["score"]) for n, q in nested.items() for r in eng.topk(q, K).collect()),
        key=lambda r: (r[0], -r[2], r[1]),
    )
    assert got == want and not {d for _, d, _ in got} & deleted

    # one DEBUG record per topk_batch, nothing at the default level
    caplog.clear()
    eng.topk_batch(queries, K)
    assert not [r for r in caplog.records if r.name == X.__name__]
    with caplog.at_level(logging.DEBUG, logger=X.__name__):
        eng.topk_batch(queries, K)
    assert len(caplog.records) == 1 and "n_fallback" in caplog.records[0].getMessage()


# --------------------------------------------------------------- dictionary


def test_dictionary_read_without_spark_equals_groupby_twin(spark, ix):
    """The pyarrow dictionary of a 2-segment store with overlapping terms
    equals the Spark groupBy twin (summed doc_freq, sorted terms), and the
    table is persisted only in the no-vocab regime."""
    store, idx, _deleted, (hi, *_rest) = ix
    eng = _engine(spark, store)
    twin = eng.term_stats.orderBy("term").collect()
    terms, dfs = (a.tolist() for a in eng._vocab)
    assert terms == [r["term"] for r in twin] == sorted(idx.postings)
    assert dfs == [r["doc_freq"] for r in twin]
    assert dfs[terms.index(hi)] == idx.doc_freq(hi)
    footer_rows = sum(
        pads.dataset(store.seg_path(s, "term_stats"), format="parquet").count_rows()
        for s in ("s0", "s1")
    )
    assert footer_rows > len(terms)  # the segments share terms
    assert not eng.term_stats.is_cached

    novocab = SearchEngine(spark, store)
    novocab.VOCAB_CACHE_MAX = -1
    novocab.prepare_dictionary()
    assert novocab._vocab is None and novocab.term_stats.is_cached
    novocab.term_stats.unpersist()


def test_dictionary_over_footer_cap_takes_the_job_path(spark, ix):
    """A cap below the footers' row sum (but above the distinct-term count)
    pulls the dictionary with the one-job Spark path; the result and the
    queries are unchanged."""
    store, *_ = ix
    ref = _engine(spark, store)
    n_terms = len(ref._vocab[0])
    eng = SearchEngine(spark, store)
    eng.VOCAB_CACHE_MAX = n_terms
    sc = spark.sparkContext
    sc.setJobGroup("vocab-job-path", "")
    try:
        eng.prepare_dictionary()
    finally:
        sc.setJobGroup("local-path-idle", "")
    assert sc.statusTracker().getJobIdsForGroup("vocab-job-path")
    assert all(np.array_equal(a, b) for a, b in zip(eng._vocab, ref._vocab))
    assert not eng.term_stats.is_cached
    for _label, node, _ in _cases(ix):
        assert _rows(eng.topk(node, K)) == _rows(ref.topk(node, K))
        assert eng.last_run["path"] == "local"


# ------------------------------------------------------------ lazy results


def _lazy_shapes(ix) -> dict[str, tuple]:
    """(method, argument) per result shape: topk and topk_batch, each
    with a non-empty and an empty result."""
    _, _, _, (hi, med, *_rest) = ix
    absent = Term("zzqqxxnotaterm")
    return {
        "topk": ("topk", Or((Term(hi), Term(med)))),
        "topk_empty": ("topk", absent),
        "batch": ("topk_batch", {"b": And((Term(hi), Term(med))), "a": Term(hi)}),
        "batch_empty": ("topk_batch", {"a": absent}),
    }


@pytest.mark.parametrize("scorer", ["bm25", "precise"])
def test_local_result_answers_from_pandas(spark, ix, scorer, capsys):
    """collect(), toPandas(), count(), schema and columns of a local
    result make no JVM relation and launch no job, and equal what the
    materialized relation answers; any other Spark API builds the
    relation once and works on it."""
    import pandas as pd

    store, *_ = ix
    eng = _engine(spark, store, scorer=PreciseBM25() if scorer == "precise" else None)
    score_t = "double" if scorer == "precise" else "float"
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for label, (method, arg) in _lazy_shapes(ix).items():
        group = f"lazy-{scorer}-{label}"
        sc.setJobGroup(group, label)
        try:
            df = getattr(eng, method)(arg, K)
            assert eng.last_run["path"] == "local", label
            rows, pdf, n = df.collect(), df.toPandas(), df.count()
            schema, columns = df.schema, df.columns
            assert "_jdf" not in df.__dict__, label
        finally:
            sc.setJobGroup("local-path-idle", "")
        assert tracker.getJobIdsForGroup(group) == [], label
        want_cols = ["gdoc", "score"] if method == "topk" else ["query", "gdoc", "score"]
        assert columns == want_cols and schema.simpleString().endswith(f"score:{score_t}>")
        assert (n == 0) == label.endswith("_empty") and n == len(rows) == len(pdf)

        ref = spark.createDataFrame(pdf, schema)
        ref_rows = ref.collect()
        assert rows == ref_rows, label
        assert [tuple(map(type, r)) for r in rows] == [tuple(map(type, r)) for r in ref_rows]
        assert [r.asDict() for r in rows] == [r.asDict() for r in ref_rows]
        pd.testing.assert_frame_equal(pdf, ref.toPandas())
        assert schema == ref.schema and n == ref.count()

        # every other API builds the local relation once and runs on it
        assert df.join(ref, columns).count() == n
        assert sorted(df.unionByName(ref).collect()) == sorted(rows + ref_rows)
        assert df.orderBy(F.desc("gdoc")).collect() == sorted(rows, key=lambda r: -r["gdoc"])
        assert "_jdf" in df.__dict__
        assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
        df.explain()
        assert "LocalTableScan" in capsys.readouterr().out
        assert df.schema == schema and df.collect() == rows and df.count() == n


def test_local_results_from_threads_equal_sequential(spark, ix):
    """Concurrent local queries share the engine's footer cache: eight
    threads' rows equal sequential calls' rows."""
    from concurrent.futures import ThreadPoolExecutor

    store, *_ = ix
    eng = _engine(spark, store)
    nodes = [node for _, node, _ in _cases(ix)]
    want = [_rows(eng.topk(node, K)) for node in nodes]
    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(lambda node: _rows(eng.topk(node, K)), nodes * 4))
    assert got == want * 4


def _rewrite_postings(store: IndexStore, seg: str, rows_per_group: int) -> int:
    """Rewrite a segment's postings as one term-sorted parquet file of
    `rows_per_group`-row row groups: the same rows, the Spark schema kept
    in the footer. Returns the file's row group count."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = store.seg_path(seg, "postings")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tbl = pq.read_table(files).sort_by([("term", "ascending"), ("first_doc", "ascending")])
    for f in files:
        os.remove(f)
    out = os.path.join(path, "part-00000.parquet")
    pq.write_table(tbl, out, row_group_size=rows_per_group)
    return pq.read_metadata(out).num_row_groups


FOOTER_LABELS = ("HighTerm", "LowTerm", "AndHighMed", "OrHighMed", "MinMatch2of3", "Prefix3", "Phrase")


def test_footer_cached_read_prunes_row_groups(spark, ix, tmp_path):
    """A postings file of many small row groups: the local site reads
    only the row groups whose footer term range holds a query term, and
    topk / topk_batch results stay bit-identical to the oracle."""
    import shutil

    import pyarrow.parquet as pq

    store, _idx, deleted, _ = ix
    shutil.copytree(store.root, tmp_path / "small_groups")
    copy = IndexStore(str(tmp_path / "small_groups"))
    before = pq.read_table(copy.seg_path("s0", "postings"))
    n_groups = _rewrite_postings(copy, "s0", 64)
    after = pq.read_table(copy.seg_path("s0", "postings"))
    assert n_groups > 8 and after.schema.metadata == before.schema.metadata
    order = [("term", "ascending"), ("first_doc", "ascending")]
    assert after.equals(before.sort_by(order))

    eng = _engine(spark, copy)
    cases = {label: (node, scores) for label, node, scores in _cases(ix) if label in FOOTER_LABELS}
    for label, (node, scores) in cases.items():
        assert _rows(eng.topk(node, K)) == _top(scores, deleted), label
        run = eng.last_run
        assert run["path"] == "local", label
        read, total = run["row_groups"]
        assert 0 < read < total, (label, run)
        assert total - read >= n_groups // 2, (label, run)
    queries = {label: node for label, (node, _) in cases.items()}
    assert _batch_rows(eng.topk_batch(queries, K)) == _batch_oracle(cases, deleted)
    read, total = eng.last_run["row_groups"]
    assert eng.last_run["path"] == "local" and 0 < read < total

    # blocks arrive in (segment, chunk, term, first_doc) order from the
    # sorted rewrite and from the original multi-file segments, with one
    # chunk per segment or many
    _, _, _, (hi, med, low, _bigram) = ix
    node = normalize(Or((Term(hi), Term(med), Term(low))))
    for e in (eng, _engine(spark, store)):
        plan = e._sums_plan([e._query_spec(node)])
        want_rows = sum(
            pads.dataset(e.store.seg_path(s, "postings"), format="parquet").count_rows(
                filter=pads.field("term").isin(plan.terms)
            )
            for s in e.seg_base
        )
        for bits in (e.chunk_bits, 6):
            e.chunk_bits = bits
            got = e._local_blocks(plan)[0].to_pandas()
            key = ["segment", "chunkid", "term", "first_doc"]
            assert len(got) == want_rows and not got.duplicated(key).any()
            assert got.equals(got.sort_values(key, ignore_index=True)), bits
            assert (got["chunkid"].nunique() > 2) == (bits == 6)


def test_local_run_records_row_groups_and_block_counters(spark, ix, tmp_path):
    """A local-site run record carries the row groups it read and the
    kernel's block counters; block-max pruning skips blocks of a
    prunable HighTerm query on a bursty corpus, and a Spark-site record
    has neither."""
    store = IndexStore(str(tmp_path / "bursty"))
    corpus = generate_corpus(spark, 1500, seed=41, burstiness=0.1).persist()
    corpus.count()
    build_segment(spark, store, corpus, "b0")
    corpus.unpersist()
    eng = _engine(spark, store)
    n_groups = sum(f[1].num_row_groups for files in eng._postings_footers.values() for f in files)
    # the high doc-frequency band, most frequent first
    high = [t for df, t in sorted(zip(eng._vocab[1], eng._vocab[0]), key=lambda x: (-x[0], x[1])) if df >= 300]
    skipped = []
    for t in high[:20]:
        pruned = _rows(eng.topk(Term(t), 1))
        run = eng.last_run
        assert run["path"] == "local" and run["wand"], run
        assert 0 < run["row_groups"][0] < run["row_groups"][1] == n_groups, run
        assert run["blocks"] >= run["skipped"] >= 0 and run["blocks"] > 0, run
        if run["skipped"]:
            skipped.append(t)
            assert _rows(eng.topk(Term(t), 1, wand=False)) == pruned
            assert eng.last_run["skipped"] == 0 and eng.last_run["blocks"] == run["blocks"]
    assert skipped, high[:20]

    # a phrase-bearing batch is one scan: each block of its terms is
    # read and decoded once
    store, _idx, _deleted, (hi, med, *_rest) = ix
    eng = _engine(spark, store)
    eng.topk_batch({"a": Term(hi), "b": Or((Term(hi), Term(med))), "p": Phrase((hi, med))}, K)
    run = eng.last_run
    n_blocks = sum(
        pads.dataset(store.seg_path(s, "postings"), format="parquet").count_rows(
            filter=pads.field("term").isin([hi, med])
        )
        for s in eng.seg_base
    )
    assert run["path"] == "local" and run["n_fallback"] == 0
    assert run["blocks"] == n_blocks and run["row_groups"][0] >= 2
    eng.LOCAL_MAX_POSTINGS = 0
    eng.topk(Term(hi), K)
    assert eng.last_run["path"] == "spark"
    assert not {"row_groups", "blocks", "skipped"} & set(eng.last_run)


# ------------------------------------------------------------ Arrow kernel


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spark_scan_kernel_runs_as_map_in_arrow(spark, ix):
    """The Spark site runs the scan kernel, and the norm rows' packing
    that grouped plans union in, as MapInArrow: no MapInPandas is left on
    the scan path of a term, a boolean, a phrase, a multiterm with a tail
    or a batch."""
    store, _idx, _deleted, (hi, med, _low, bigram) = ix
    eng = _engine(spark, store)
    eng.LOCAL_MAX_POSTINGS = 0
    nodes = (Term(hi), Or((Term(hi), Term(med))), Phrase(bigram), Prefix(hi[:1], scored_terms_limit=2))
    frames = [eng.topk(node, K) for node in nodes]
    frames.append(eng.topk_batch({"a": Term(hi), "b": Phrase(bigram)}, K))
    for df in frames:
        plan = _plan_text(df)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_sites_agree_on_rows_and_leg_counts(spark, ix):
    """Both sites feed the kernel Arrow batches: a term, a wide expansion
    with an unscored tail, a phrase and a batch give the same rows at
    either site, and the run records carry the same scored-leg and
    tail-term counts."""
    store, _idx, _deleted, (hi, med, _low, bigram) = ix
    eng = _engine(spark, store)
    n_match = sum(t.startswith(hi[:1]) for t in eng._vocab[0])
    assert n_match > 3, "the prefix needs a tail"
    cases = [
        (Term(hi), 1, 0),
        (Prefix(hi[:1], scored_terms_limit=2), 2, n_match - 2),
        (Phrase(bigram), 1, 0),
        (Or((Term(hi), Term(med), Term("zzqqxxnotaterm"))), 2, 0),
    ]
    for node, legs, tail in cases:
        runs = []
        for budget in (BIG, 0):
            eng.LOCAL_MAX_POSTINGS = budget
            runs.append((_rows(eng.topk(node, K)), dict(eng.last_run)))
        del eng.LOCAL_MAX_POSTINGS
        (local, lrun), (spark_rows, srun) = runs
        assert (lrun["path"], srun["path"]) == ("local", "spark"), node
        assert local == spark_rows and local, node
        assert (lrun["legs"], lrun["tail_terms"]) == (srun["legs"], srun["tail_terms"]) == (legs, tail), node
    queries = {"t": Term(hi), "p": Phrase(bigram), "w": Prefix(hi[:1], scored_terms_limit=2)}
    local, spark_rows, lrun = _batch_both(eng, queries)
    assert local == spark_rows and {q for q, _, _ in local} == set(queries)
    assert (lrun["legs"], lrun["tail_terms"]) == (eng.last_run["legs"], eng.last_run["tail_terms"]) == (4, n_match - 2)


def test_kernel_high_term_adapter_frame(spark, ix):
    """The KernelHighTerm call shape: one term's pandas blocks in, one
    pandas (qid int32, gdoc int64, score float64) frame of the k best
    out — the oracle's top k without the tombstone mask, with and
    without block-max pruning."""
    store, idx, _deleted, (hi, *_rest) = ix
    eng = _engine(spark, store)
    dfreq = dict(zip(*eng._vocab))[hi]
    sc = {hi: eng.scorer.prepare(eng.field, dfreq, 1.0)}
    pdf = eng.postings.where(F.col("term") == hi).select(*eng.SCAN_COLS).toPandas()
    want = _top(oracle.score_term(idx, hi), set())
    for prune in (True, False):
        counters: dict = {}
        kern = X._topk_sums_kernel(
            sc, {hi: 0.0}, eng.seg_base, k=K, min_match=1, const_add=0.0, merge="sum",
            mode="f32", deleted=None, grouped=False, prune=prune, counters=counters,
        )
        (frame,) = list(kern(iter([pdf])))
        assert list(frame.columns) == ["qid", "gdoc", "score"]
        assert [str(t) for t in frame.dtypes] == ["int32", "int64", "float64"]
        assert frame["qid"].eq(0).all() and counters["blocks"] == len(pdf)
        got = sorted(zip(frame["gdoc"].tolist(), frame["score"].tolist()), key=lambda r: (-r[1], r[0]))
        assert got == want, prune
