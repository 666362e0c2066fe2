"""The postings layout: no per-posting doc lengths, prunable row groups.

- Every postings writer (the local and Spark builds, the local and Spark
  merges, and the flat merge) writes term-ordered row groups of at most
  POSTINGS_ROW_GROUP_ROWS rows, and a Term query on the local site reads
  only some of them, with oracle-identical results.
- A store that mixes a segment in the layout written before doc lengths
  moved to the docmap (per-posting `dls_bin` and `last_doc`, made by
  tests/oracle.py's `pack_tokens`) with a new one answers `topk` and
  `topk_batch` bit-identically to tests/oracle.py at both sites, WAND
  equals no WAND, and merging the two writes the new layout.
- `Norms` gathers the same lengths from the docmap and from norm rows.
"""

from __future__ import annotations

import pickle
import shutil
from functools import partial

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import TextAnalyzer
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import segments
from iresearch_spark.index.build import assign_doc_ids, tokenize_stream
from iresearch_spark.index.merge import merge_segments
from iresearch_spark.index.norms import Norms, docmap_lens, norm_rows, take_norm_rows
from iresearch_spark.index.segments import POSTINGS_ROW_GROUP_ROWS, IndexStore, build_segment
from iresearch_spark.search import Or, Term
from tests import oracle
from tests.oracle import LEGACY_COLS, pack_tokens
from tests.test_local_path import (
    BIG,
    K,
    STOPS,
    _batch_both,
    _batch_cases,
    _batch_oracle,
    _cases,
    _engine,
    _rows,
    _top,
)

KEY = ["repo", "path", "commit"]


def _postings_files(store: IndexStore, seg: str) -> list[str]:
    return segments._parquet_files(store.seg_path(seg, "postings"))


def _sorted_docs(rows) -> list[str]:
    return [r["content"] for r in sorted(rows, key=lambda r: tuple(r[k] for k in KEY))]


@pytest.fixture(scope="module")
def corpus1500(spark):
    c = generate_corpus(spark, 1500, seed=1).withColumn(
        "_h", F.pmod(F.xxhash64(*KEY), F.lit(2))
    ).persist()
    c.count()
    yield c
    c.unpersist()


WRITERS = ("local_build", "spark_build", "local_merge", "spark_merge", "force_flat")


@pytest.mark.parametrize("writer", WRITERS)
def test_every_writer_cuts_prunable_row_groups(spark, corpus1500, tmp_path, monkeypatch, writer):
    store = IndexStore(str(tmp_path / writer))
    rows = corpus1500.select(*KEY, "content", "_h").collect()
    if writer.endswith("build"):
        if writer == "spark_build":
            monkeypatch.setattr(segments, "LOCAL_BUILD_MAX_BYTES", 0)
        build_segment(spark, store, corpus1500.drop("_h"), "s")
        texts = _sorted_docs(rows)
    else:
        for h, name in ((0, "a"), (1, "b")):
            build_segment(spark, store, corpus1500.where(F.col("_h") == h).drop("_h"), name)
        if writer != "local_merge":
            monkeypatch.setattr(segments, "LOCAL_BUILD_MAX_BYTES", -1)
        merge_segments(spark, store, ["a", "b"], "s", force_flat=writer == "force_flat")
        # no tombstones: the second member's ids follow the first's
        texts = [t for h in (0, 1) for t in _sorted_docs(r for r in rows if r["_h"] == h)]
    (seg,) = store.current().segments

    n_groups = []
    for f in _postings_files(store, seg.name):
        md = pq.read_metadata(f)
        assert not set(LEGACY_COLS) & set(md.schema.names)
        j = md.schema.names.index("term")
        groups = [md.row_group(g) for g in range(md.num_row_groups)]
        assert all(0 < g.num_rows <= POSTINGS_ROW_GROUP_ROWS for g in groups), f
        stats = [g.column(j).statistics for g in groups]
        assert all(s.has_min_max for s in stats)
        assert all(a.max <= b.min for a, b in zip(stats, stats[1:])), f
        n_groups.append(len(groups))
    assert max(n_groups) > 1, n_groups

    idx = oracle.build_index(list(enumerate(texts, start=1)), STOPS)
    by_df = sorted(idx.postings, key=lambda t: (-idx.doc_freq(t), t))
    term = by_df[len(by_df) // 8]
    eng = _engine(spark, store)
    got = _rows(eng.topk(Term(term), K))
    read, total = eng.last_run["row_groups"]
    assert eng.last_run["path"] == "local" and 0 < read < total == sum(n_groups), eng.last_run
    assert got == _top(oracle.score_term(idx, term), set()) and got


def _old_layout(spark, store: IndexStore, seg: str, corpus) -> None:
    """Overwrite `seg`'s postings with pack_tokens' blocks of the same
    docs: the layout with `last_doc` and a per-posting `dls_bin`, written
    by Spark as one row group per file."""
    docs = assign_doc_ids(corpus, KEY)
    old = pack_tokens(tokenize_stream(docs, "content", TextAnalyzer(), True), num_partitions=2)
    old.write.mode("overwrite").parquet(store.seg_path(seg, "postings"))


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """Segment `old` in the old layout, `new` in the new one."""
    store = IndexStore(str(tmp_path_factory.mktemp("mixed")))
    docs: list[tuple[int, str]] = []
    for name, seed, n in (("old", 41, 220), ("new", 42, 180)):
        corpus = generate_corpus(spark, n, seed=seed).persist()
        build_segment(spark, store, corpus, name)
        if name == "old":
            _old_layout(spark, store, name, corpus)
        rows = corpus.select(*KEY, "content").collect()
        corpus.unpersist()
        base = {s.name: s.base_doc for s in store.current().segments}[name]
        docs += [(base + i + 1, t) for i, t in enumerate(_sorted_docs(rows))]
    idx = oracle.build_index(docs, STOPS)
    by_df = sorted(idx.postings, key=lambda t: (-idx.doc_freq(t), t))
    hi, med, low = by_df[0], by_df[len(by_df) // 8], by_df[len(by_df) // 2]
    toks = oracle.tokenize(docs[0][1], STOPS)
    bigram = next((a, b) for (p, a), (q, b) in zip(toks, toks[1:]) if q == p + 1)
    return store, idx, set(), (hi, med, low, bigram)


def _columns(store: IndexStore, seg: str) -> set[str]:
    return {c for f in _postings_files(store, seg) for c in pq.read_schema(f).names}


def _site_rows(eng, node, local: bool, wand: bool):
    eng.LOCAL_MAX_POSTINGS = BIG if local else 0
    try:
        rows = _rows(eng.topk(node, K, wand=wand))
    finally:
        del eng.LOCAL_MAX_POSTINGS
    assert (eng.last_run["path"] == "local") == local or not eng.last_run["postings_est"]
    return rows


def test_mixed_layout_store_queries_match_oracle(spark, mixed):
    store = mixed[0]
    assert set(LEGACY_COLS) <= _columns(store, "old")
    assert not set(LEGACY_COLS) & _columns(store, "new")
    eng = _engine(spark, store)
    for label, node, scores in _cases(mixed):
        want = _top(scores, set())
        for local in (True, False):
            assert _site_rows(eng, node, local, wand=True) == want, (label, local)
            assert _site_rows(eng, node, local, wand=False) == want, (label, local)
    cases = _batch_cases(mixed)
    local, spark_rows, _ = _batch_both(eng, {n: q for n, (q, _) in cases.items()})
    assert local == spark_rows == _batch_oracle(cases, set()) and local


def test_mixed_layout_norm_rows_ride_the_arrow_batches(spark, mixed):
    """On the mixed store a grouped Spark plan unions the docmaps' norm
    rows (packed by a MapInArrow kernel) into the scan kernel's Arrow
    batches: every case answers as on the local site, with the same
    scored-leg counts."""
    store = mixed[0]
    eng = _engine(spark, store)
    for label, node, _scores in _cases(mixed):
        rows, legs = [], []
        for local in (True, False):
            rows.append(_site_rows(eng, node, local, wand=True))
            legs.append((eng.last_run.get("legs"), eng.last_run.get("tail_terms")))
        assert rows[0] == rows[1] and legs[0] == legs[1], label
    eng.LOCAL_MAX_POSTINGS = 0
    hi, med = mixed[3][:2]
    plan = eng.topk(Or((Term(hi), Term(med))), K)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") >= 2 and "MapInPandas" not in plan, plan


@pytest.mark.parametrize("site", ["local", "spark", "flat"])
def test_mixed_layout_merge_writes_new_layout(spark, mixed, tmp_path, monkeypatch, site):
    store, *_ = mixed
    shutil.copytree(store.root, tmp_path / "copy")
    copy = IndexStore(str(tmp_path / "copy"))
    if site != "local":
        monkeypatch.setattr(segments, "LOCAL_BUILD_MAX_BYTES", -1)
    merge_segments(spark, copy, ["old", "new"], "m", force_flat=site == "flat")
    assert [s.name for s in copy.current().segments] == ["m"]
    assert not set(LEGACY_COLS) & _columns(copy, "m")
    eng = _engine(spark, copy)
    for label, node, scores in _cases(mixed):
        assert _site_rows(eng, node, True, wand=True) == _top(scores, set()), label


def test_norms_from_docmap_equal_norm_rows(spark, mixed):
    """The driver's docmap read, a pickled copy of it and a Spark task's
    norm rows give every doc its oracle length: here from 16-doc chunks
    of a docmap read in descending id order, so a segment's rows arrive
    out of order."""
    store, idx, *_ = mixed
    driver = Norms(partial(docmap_lens, store.root))
    from_rows = Norms()
    pdf = norm_rows(store.read_union(spark, "docmap").orderBy(F.desc("doc_id")), 4).toPandas()
    assert len(pdf) > 2 * len(store.current().segments)
    assert take_norm_rows(pdf.assign(term=None), from_rows).empty
    for s in store.current().segments:
        ids = np.arange(s.max_doc, s.min_doc - 1, -1, dtype=np.int64)
        want = [idx.doclen[s.base_doc + d] for d in ids]
        assert driver.of(s.name, ids).tolist() == want
        assert from_rows.of(s.name, ids).tolist() == want
        # a Spark task gets the loader, never the lens read so far
        shipped = pickle.loads(pickle.dumps(driver))
        assert not shipped._tables and shipped.of(s.name, ids).tolist() == want
