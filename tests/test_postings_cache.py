"""The engine's decoded postings cache (driver-local site) and the
single-part leg table:

- `_leg_table`'s one-part path builds the table `_leg_table_general`
  builds, field for field (a Term, an And of two terms, a Prefix with and
  without an unscored tail, a Phrase leg, the pandas kernel adapter's
  scorers);
- a second identical local query reads no row group from parquet
  (counted on the reader), `last_run["row_groups_cached"]` says so, and
  a first read is no wider than the query: a term query never reads
  `pos_bin`, a later phrase query reads only that column; a group's term
  index is built on its second use, not on its first read;
- warm-cache rows equal cold-engine rows and Spark-site rows bit for
  bit, for single queries (wand on and off) and batches, on a store of
  term-ranged row groups and on a mixed old/new-layout store, whose old
  `dls_bin` / `last_doc` columns are never read;
- with the budget cut to about one row group, four threads sharing one
  engine get the cold single-thread rows and the cache never holds more
  bytes than the budget;
- a group's term index (`_TermRuns`) finds exactly the rows of the wanted
  terms, sorted group or not, and counts the bytes it holds; a postings
  file that is not term-sorted, and the terms at a group's footer-range
  ends, answer as the Spark site does.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import iresearch_spark.search.executor as X
from iresearch_spark.index import segments
from iresearch_spark.index.segments import IndexStore
from iresearch_spark.search import And, Or, Phrase, Prefix, Term
from iresearch_spark.search.query import normalize
from tests.oracle import LEGACY_COLS
from tests.test_local_path import (
    BIG,
    FOOTER_LABELS,
    K,
    _batch_rows,
    _cases,
    _engine,
    _rewrite_postings,
    _rows,
    ix,  # noqa: F401  (module fixture)
)
from tests.test_postings_layout import mixed  # noqa: F401  (module fixture)


def _same_value(a, b) -> bool:
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return type(a) is type(b) and a.dtype == b.dtype and a.shape == b.shape and np.array_equal(a, b)
    return type(a) is type(b) and a == b


def _assert_same_table(got, want) -> None:
    (table, idx), (table0, idx0) = got, want
    assert _same_value(idx, idx0)
    for name in X._LegTable._fields[:-1]:
        assert _same_value(getattr(table, name), getattr(table0, name)), name
    assert len(table.families) == len(table0.families)
    for sc, sc0 in zip(table.families, table0.families):
        assert type(sc) is type(sc0)
        for f in dataclasses.fields(sc):
            assert _same_value(getattr(sc, f.name), getattr(sc0, f.name)), f.name


def test_leg_table_single_part_equals_general(spark, ix, monkeypatch):  # noqa: F811
    store, idx, _deleted, (hi, med, _low, bigram) = ix
    eng = _engine(spark, store)
    firsts = [t[0] for t in idx.postings]
    pre = max(set(firsts), key=firsts.count)
    calls, general = [], []
    real, real_general = X._leg_table, X._leg_table_general
    monkeypatch.setattr(X, "_leg_table", lambda *a: calls.append(a) or real(*a))
    monkeypatch.setattr(X, "_leg_table_general", lambda *a: general.append(a) or real_general(*a))
    nodes = {
        "term": Term(hi),
        "and": And((Term(hi), Term(med))),
        "prefix": Prefix(pre, scored_terms_limit=10**6),
        "prefix_tail": Prefix(pre, scored_terms_limit=2),
        "phrase": Phrase(bigram),
    }
    for label, node in nodes.items():
        calls.clear()
        general.clear()
        spec = eng._query_spec(normalize(node))
        eng._sums_plan([spec], k=K, prune=True)
        (args,) = calls
        # the one-part path serves a term, an And of terms and a fully
        # scored prefix; a tail or a phrase's extra terms take the general
        # merge
        assert bool(general) == (label in ("prefix_tail", "phrase")), label
        if label == "prefix":
            # scored legs by (doc_freq desc, term asc): not in term order
            assert spec[0].terms.size == spec[0].n_scored > 2
            assert (np.sort(spec[0].terms) != spec[0].terms).any()
        if label == "prefix_tail":
            assert spec[0].terms.size > spec[0].n_scored > 0
        _assert_same_table(real(*args), real_general(*args))
    # the pandas kernel adapter's single-term scorers (scalar factors)
    sc = eng.scorer.prepare(eng.field, 7)
    args = ([(0, [hi], sc)],)
    _assert_same_table(real(*args), real_general(*args))
    # repeated terms in one part are merged by the general path
    args = ([(0, np.array([hi, hi], dtype=object), eng.scorer.prepare_terms(eng.field, np.array([7, 7])))],)
    _assert_same_table(real(*args), real_general(*args))


@pytest.fixture()
def reads(monkeypatch):
    """Every parquet row-group read the local site makes, as (row group,
    columns)."""
    seen: list[tuple[int, tuple]] = []
    real = pq.ParquetFile.read_row_group

    def read_row_group(self, i, columns=None, **kw):
        seen.append((i, tuple(columns or ())))
        return real(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", read_row_group)
    return seen


def test_second_local_query_reads_no_row_group(spark, ix, reads):  # noqa: F811
    store, _idx, _deleted, (hi, med, _low, bigram) = ix
    eng = _engine(spark, store)
    node = And((Term(hi), Term(med)))
    first = _rows(eng.topk(node, K))
    run = eng.last_run
    assert run["path"] == "local" and run["row_groups_cached"] == 0, run
    assert len(reads) == run["row_groups"][0] > 0
    assert all("pos_bin" not in cols for _, cols in reads)
    # a first read builds no term index; the second use of a group does
    indexed = lambda: sum(c is None for _, _, c in eng._postings_cache._cols)  # noqa: E731
    assert indexed() == 0
    reads.clear()
    assert _rows(eng.topk(node, K)) == first
    assert not reads and indexed() == run["row_groups"][0]
    assert eng.last_run["row_groups"] == run["row_groups"]
    assert eng.last_run["row_groups_cached"] == run["row_groups"][0]
    # a phrase over groups the term query cached reads only positions
    eng.topk(Phrase(bigram), K)
    run = eng.last_run
    assert run["path"] == "local" and run["row_groups_cached"] < run["row_groups"][0]
    all_cols = tuple(c for c in eng.SCAN_COLS if c != "segment") + ("pos_bin",)
    assert {cols for _, cols in reads} <= {("pos_bin",), all_cols}
    reads.clear()
    eng.topk(Phrase(bigram), K)
    assert not reads and eng.last_run["row_groups_cached"] == eng.last_run["row_groups"][0]


def _site_rows(eng, node, *, local: bool, cold: bool = False, wand: bool = True):
    eng.LOCAL_MAX_POSTINGS = BIG if local else 0
    if cold:
        eng._postings_cache.clear()
    try:
        rows = _rows(eng.topk(node, K, wand=wand))
    finally:
        del eng.LOCAL_MAX_POSTINGS
    assert (eng.last_run["path"] == "local") == local or not eng.last_run["postings_est"]
    return rows


def _batch_site_rows(eng, queries: dict, *, local: bool, cold: bool = False):
    eng.LOCAL_MAX_POSTINGS = BIG if local else 0
    if cold:
        eng._postings_cache.clear()
    try:
        rows = _batch_rows(eng.topk_batch(queries, K))
    finally:
        del eng.LOCAL_MAX_POSTINGS
    assert (eng.last_run["path"] == "local") == local
    return rows


def _assert_warm_equals_cold_equals_spark(spark, store, cases: dict) -> None:
    eng = _engine(spark, store)
    for label, node in cases.items():
        for wand in (True, False):
            cold = _site_rows(eng, node, local=True, cold=True, wand=wand)
            assert eng.last_run["row_groups_cached"] == 0, (label, eng.last_run)
            warm = _site_rows(eng, node, local=True, wand=wand)
            assert eng.last_run["row_groups_cached"] == eng.last_run["row_groups"][0], (label, eng.last_run)
            spark_rows = _site_rows(eng, node, local=False, wand=wand)
            assert warm == cold == spark_rows, (label, wand)
    cold = _batch_site_rows(eng, cases, local=True, cold=True)
    warm = _batch_site_rows(eng, cases, local=True)
    assert warm == cold == _batch_site_rows(eng, cases, local=False) and warm
    # a fresh engine (an empty cache) answers the same
    assert _batch_site_rows(_engine(spark, store), cases, local=True) == warm


def test_warm_cache_equals_cold_and_spark(spark, ix, tmp_path):  # noqa: F811
    store = ix[0]
    shutil.copytree(store.root, tmp_path / "small_groups")
    copy = IndexStore(str(tmp_path / "small_groups"))
    assert _rewrite_postings(copy, "s0", 64) > 8
    cases = {label: node for label, node, _ in _cases(ix) if label in FOOTER_LABELS}
    for root in (store, copy):
        _assert_warm_equals_cold_equals_spark(spark, root, cases)


def test_mixed_layout_cache_never_reads_legacy_columns(spark, mixed, reads):  # noqa: F811
    store = mixed[0]
    cases = {label: node for label, node, _ in _cases(mixed) if label in FOOTER_LABELS}
    _assert_warm_equals_cold_equals_spark(spark, store, cases)
    assert reads and not {c for _, cols in reads for c in cols} & set(LEGACY_COLS)


def test_bounded_cache_shared_by_threads(spark, ix, tmp_path, monkeypatch):  # noqa: F811
    store = ix[0]
    shutil.copytree(store.root, tmp_path / "small_groups")
    copy = IndexStore(str(tmp_path / "small_groups"))
    _rewrite_postings(copy, "s0", 64)
    nodes = [node for label, node, _ in _cases(ix) if label != "Absent"]
    batch = {f"q{i}": node for i, node in enumerate(nodes)}

    want = []
    for node in nodes:
        eng = _engine(spark, copy)
        want.append(_rows(eng.topk(node, K)))
        assert eng.last_run["path"] == "local"
    want_batch = _batch_rows(_engine(spark, copy).topk_batch(batch, K))
    unbounded = _engine(spark, copy)
    unbounded.topk_batch(batch, K)
    full = unbounded._postings_cache.nbytes

    # about one row group's decoded columns (the largest 64-row group of s0)
    md = pq.read_metadata(unbounded._postings_footers["s0"][0][0])
    budget = max(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
    assert full > 4 * budget
    monkeypatch.setattr(segments, "LOCAL_BUILD_MAX_BYTES", budget)
    eng = _engine(spark, copy)
    cache = eng._postings_cache
    over = []
    real_put = X._PostingsCache._put

    def put(self, entries):
        real_put(self, entries)
        with self._lock:
            held = sum(self._nbytes(value) for value, _ in self._cols.values())
            if held != self.nbytes or self.nbytes > budget:
                over.append((held, self.nbytes))

    monkeypatch.setattr(X._PostingsCache, "_put", put)
    # frequent thread switches, so lookups, reads and evictions interleave
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(lambda node: _rows(eng.topk(node, K)), nodes * 3, timeout=600))
            got_batch = list(pool.map(lambda _: _batch_rows(eng.topk_batch(batch, K)), range(4), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got == want * 3
    assert got_batch == [want_batch] * 4
    assert not over and 0 < cache.nbytes <= budget


def test_term_runs_find_rows_and_count_bytes():
    rng = np.random.default_rng(7)
    words = np.array(["a", "ab", "b", "ba", "é", "éa", "ü", "zz", "日本"], dtype=object)
    for case in range(40):
        n = int(rng.integers(0, 30))
        col = words[rng.integers(0, words.size, n)]
        if case % 2:
            col = np.sort(col)
        runs = X._TermRuns.of(pa.array(col.tolist(), pa.string()))
        assert (runs.rows is None) == bool(n < 2 or (col[1:] >= col[:-1]).all())
        rows = np.arange(n) if runs.rows is None else runs.rows
        exact = runs.terms.nbytes + sum(map(sys.getsizeof, runs.terms)) + runs.bounds.nbytes
        assert runs.nbytes == exact + (0 if runs.rows is None else runs.rows.nbytes)
        want = np.unique(words[rng.integers(0, words.size, int(rng.integers(1, 5)))].astype(str)).astype(object)
        code, first, count = runs.find(want)
        assert code.tolist() == [i for i, w in enumerate(want) if w in set(col)]
        for c, f, m in zip(code, first, count):
            assert sorted(rows[f : f + m].tolist()) == np.flatnonzero(col == want[c]).tolist()


def test_unsorted_postings_file_equals_spark(spark, ix, tmp_path):  # noqa: F811
    """A postings file whose rows are not in term order (a footer
    promises no order): the term index sorts each group, and every case
    still answers as the Spark site does."""
    store = ix[0]
    shutil.copytree(store.root, tmp_path / "unsorted")
    copy = IndexStore(str(tmp_path / "unsorted"))
    path = copy.seg_path("s0", "postings")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tbl = pq.read_table(files)
    for f in files:
        os.remove(f)
    tbl = tbl.take(np.random.default_rng(3).permutation(tbl.num_rows))
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"), row_group_size=256)
    cases = {label: node for label, node, _ in _cases(ix) if label in FOOTER_LABELS}
    _assert_warm_equals_cold_equals_spark(spark, copy, cases)
    eng = _engine(spark, copy)
    for _ in range(2):  # a group's term index is built on its second use
        eng.topk_batch(cases, K)
    runs = [v for (f, _, c), (v, _) in eng._postings_cache._cols.items() if c is None and f.startswith(path)]
    assert runs and all(r.rows is not None for r in runs)


def test_group_edge_terms_equal_spark(spark, ix, tmp_path):  # noqa: F811
    """A group's first and last terms (its footer range's ends) are found
    in it: single terms at either end and Ors of all ends answer as the
    Spark site does, warm and cold."""
    shutil.copytree(ix[0].root, tmp_path / "small_groups")
    copy = IndexStore(str(tmp_path / "small_groups"))
    assert _rewrite_postings(copy, "s0", 64) > 8
    ((_path, _md, lo, hi, known),) = _engine(spark, copy)._postings_footers["s0"]
    assert known.all() and (lo[1:] > hi[:-1]).all()
    cases = {
        "first": Term(lo[1]),
        "last": Term(hi[1]),
        "firsts": Or(tuple(Term(t) for t in lo)),
        "lasts": Or(tuple(Term(t) for t in hi)),
    }
    _assert_warm_equals_cold_equals_spark(spark, copy, cases)
