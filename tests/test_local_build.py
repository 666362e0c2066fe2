"""Driver-local segment build: build_segment builds a small input on the
driver (one collect, the same doc packer and partial merger in-process,
tables written with pyarrow) and a large one through Spark. Pinned here by
forcing each site (LOCAL_BUILD_MAX_BYTES huge vs -1) on the same docs:

- the four tables hold equal row sets and read back with equal Spark
  schemas; SegmentMeta is equal but for bytes and created_at; lineage and
  the sha invariant verify on both sites — with positions, without, with
  offsets, with payloads, with a caller doc-id column, with zero-token
  docs and for an empty input;
- NULL keys raise on both sites (tests/test_round4.py);
- a local build launches one Spark job, logs its site at DEBUG only,
  leaves no stale files when it rebuilds a segment, merges with a Spark
  segment into the all-Spark merge, and serves topk / topk_batch equal to
  tests/oracle.py;
- the site is chosen on `input_bytes`: a built cache's size, or a parquet
  input's uncompressed footer size (not Spark's on-disk estimate);
  over-cap inputs, inputs with no trusted size (RDD-backed, uncached
  generated, a cache not built yet) and analyzers without a Python spec
  stay on Spark;
- an engine's Spark relations are built lazily from its own manifest
  snapshot, not from the store's current one; an empty segment list is
  refused rather than read as the current manifest.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import logging
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import iresearch_spark.index.segments as S
from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS, TextAnalyzer
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.merge import merge_segments
from iresearch_spark.index.segments import (
    IndexStore,
    build_segment,
    verify_lineage,
    verify_sha_invariant,
)
from iresearch_spark.search import And, Or, Phrase, SearchEngine, Term
from tests import oracle

SITES = {"local": 10**15, "spark": -1}
BUILT_TABLES = ("postings", "term_stats", "docmap", "lineage")
STOPS = frozenset(DEFAULT_STOPWORDS)
K = 10


def _cached(df):
    """`df` cached and counted: Spark then knows its size (a frame made
    from a Python list is RDD-backed, with no estimate)."""
    df = df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def docs(spark):
    df = _cached(generate_corpus(spark, 180, seed=61))
    yield df
    df.unpersist()


def _with_blank_docs(spark, docs):
    """`docs` plus zero-token docs: empty, all-stopword, whitespace-only."""
    extra = [
        ("blank/r", f"z/{i}.txt", "c0", "text", t, hashlib.sha256(t.encode()).hexdigest())
        for i, t in enumerate(("", "the and of a", "  \t "))
    ]
    return _cached(docs.unionByName(spark.createDataFrame(extra, docs.schema)))


def _pfn(toks, starts, lens):
    return [f"{t}@{s}".encode() for t, s in zip(toks, starts)]


def _build(spark, root, docs, site, name="s0", **kw):
    store = IndexStore(root)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", SITES[site])
        meta = build_segment(spark, store, docs, name, **kw)
    # Spark's writers leave their commit marker; the local writer does not
    marker = os.path.join(store.seg_path(name, "postings"), "_SUCCESS")
    assert os.path.exists(marker) == (site == "spark"), site
    return store, meta


def _norm(v):
    return bytes(v) if isinstance(v, bytearray) else v


def _tables(spark, store, seg):
    out = {}
    for t in BUILT_TABLES:
        df = store.read(spark, seg, t)
        rows = sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)
        out[t] = (df.schema, rows)
    return out


CASES = {
    "default": ({}, {}),
    "no_positions": ({"with_positions": False}, {}),
    "offsets": ({"with_offsets": True}, {}),
    "payloads": ({"payload_fn": _pfn}, {}),
    "doc_id_col": ({"doc_id_col": "did"}, {}),
    "zero_token_docs": ({}, {"blank": True}),
    "empty": ({}, {"empty": True}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_sites_build_equal_segments(spark, docs, tmp_path, case):
    kw, shape = CASES[case]
    src = docs
    if shape.get("blank"):
        src = _with_blank_docs(spark, docs)
    if shape.get("empty"):
        src = docs.limit(0)
    if "doc_id_col" in kw:
        # unique, non-dense caller ids
        src = src.withColumn(
            "did", F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long") * 7 + 1000
        )
    got = {}
    for site in SITES:
        store, meta = _build(spark, str(tmp_path / site), src, site, **kw)
        tables = _tables(spark, store, "s0")
        assert verify_lineage(spark, store, "s0", src), site
        assert verify_sha_invariant(spark, store, "s0", src) == 0, site
        got[site] = (tables, dataclasses.replace(meta, bytes=0, created_at=0.0))
    (lt, lm), (st, sm) = got["local"], got["spark"]
    assert lm == sm
    for t in BUILT_TABLES:
        assert lt[t][0] == st[t][0], t
        assert lt[t][1] == st[t][1], t
    if case == "zero_token_docs":
        assert lm.docs_total == lm.docs_count + 3
    if case == "empty":
        assert lm.docs_total == 0 and lm.max_doc == -1


def test_local_build_one_job_debug_log_only(spark, docs, tmp_path, caplog):
    sc = spark.sparkContext
    group = "test-local-build-jobs"
    sc.setJobGroup(group, "local build")
    try:
        with caplog.at_level(logging.DEBUG, logger="iresearch_spark.index.segments"):
            build_segment(spark, IndexStore(str(tmp_path)), docs, "s0")
    finally:
        sc.setJobGroup("test-idle", "idle")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    recs = [r for r in caplog.records if r.name == "iresearch_spark.index.segments"]
    assert [r.levelno for r in recs] == [logging.DEBUG]
    assert "site=local" in recs[0].getMessage()
    assert "input_bytes=" in recs[0].getMessage()
    assert "plan_bytes=" in recs[0].getMessage()


class _PlainText(TextAnalyzer):
    """A TextAnalyzer subclass: no `text_py_spec`, so the Catalyst
    tokenize path."""


def _site_logged(caplog) -> str:
    (rec,) = [r for r in caplog.records if r.name == "iresearch_spark.index.segments"]
    return rec.getMessage().split("site=")[1].split()[0]


UNTRUSTED = ("no_estimate", "uncached", "cache_not_built")


@pytest.mark.parametrize("shape", ["over_cap", *UNTRUSTED, "no_py_spec"])
def test_stays_on_spark(spark, docs, tmp_path, caplog, shape):
    kw = {"analyzer": _PlainText()} if shape == "no_py_spec" else {}
    src = {
        "no_estimate": lambda: spark.createDataFrame(docs.rdd, docs.schema),
        "uncached": lambda: generate_corpus(spark, 60, seed=63),
        "cache_not_built": lambda: generate_corpus(spark, 60, seed=64).persist(),
    }.get(shape, lambda: docs)()
    with pytest.MonkeyPatch.context() as mp, caplog.at_level(
        logging.DEBUG, logger="iresearch_spark.index.segments"
    ):
        # an input with no trusted size stays on Spark under any cap
        mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", 1 if shape == "over_cap" else 10**15)
        if shape in UNTRUSTED:
            assert S.input_bytes(src, S.LOCAL_BUILD_MAX_BYTES) is None
        store = IndexStore(str(tmp_path))
        build_segment(spark, store, src, "s0", **kw)
    assert _site_logged(caplog) == "spark"
    assert os.path.exists(os.path.join(store.seg_path("s0", "postings"), "_SUCCESS"))
    if shape == "cache_not_built":
        src.unpersist()


def test_parquet_input_sized_by_footers(spark, docs, tmp_path, caplog):
    """A parquet input is sized by its footers' uncompressed bytes, not by
    Spark's estimate (the compressed bytes on disk)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "in")
    docs.write.parquet(path)
    src = spark.read.parquet(path).where(F.col("lang") != "none")
    footers = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.read_metadata(f)
        footers += sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
    on_disk = S.plan_bytes(src)
    assert on_disk < footers
    assert S.input_bytes(src, 10**15) == footers
    # within a cap, the on-disk estimate alone would have picked the driver
    for cap, site in ((on_disk, "spark"), (footers, "local")):
        caplog.clear()
        with pytest.MonkeyPatch.context() as mp, caplog.at_level(
            logging.DEBUG, logger="iresearch_spark.index.segments"
        ):
            mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", cap)
            build_segment(spark, IndexStore(str(tmp_path / site)), src, "s0")
        assert _site_logged(caplog) == site
    a, b = (IndexStore(str(tmp_path / s)) for s in ("local", "spark"))
    assert _tables(spark, a, "s0") == _tables(spark, b, "s0")


def test_input_bytes_of_cache_built_after_planning(spark):
    """A frame whose plan was optimized before its cache was built is
    sized by the built cache, not by the stale uncached estimate."""
    df = generate_corpus(spark, 120, seed=65).persist()
    assert S.input_bytes(df, 10**15) is None
    stale = S.plan_bytes(df)
    df.count()
    try:
        fresh = generate_corpus(spark, 120, seed=65)
        assert S.plan_bytes(df) == stale
        assert S.input_bytes(df, 10**15) == S.plan_bytes(fresh) > 4 * stale
        assert S.input_bytes(df.limit(0).where(F.lit(False)), 0) == 0
    finally:
        df.unpersist()


def test_rebuild_leaves_no_stale_files(spark, docs, tmp_path):
    root = str(tmp_path / "ix")
    _build(spark, root, docs, "spark")
    store = IndexStore(root)
    spark_files = glob.glob(os.path.join(store.seg_path("s0", "*"), "*"))
    assert any(f.endswith("_SUCCESS") for f in spark_files)
    smaller = docs.limit(60)
    _build(spark, root, smaller, "local")
    for t in BUILT_TABLES:
        assert os.listdir(store.seg_path("s0", t)) == ["part-00000.zstd.parquet"], t
    fresh, _ = _build(spark, str(tmp_path / "fresh"), smaller, "local")
    assert _tables(spark, store, "s0") == _tables(spark, fresh, "s0")
    assert [s.name for s in store.current().segments] == ["s0"]


def test_merge_of_local_and_spark_segments(spark, docs, tmp_path):
    second = generate_corpus(spark, 120, seed=62)
    roots = {"mixed": str(tmp_path / "mixed"), "spark": str(tmp_path / "spark")}
    _build(spark, roots["mixed"], docs, "local", name="a")
    _build(spark, roots["mixed"], second, "spark", name="b")
    _build(spark, roots["spark"], docs, "spark", name="a")
    _build(spark, roots["spark"], second, "spark", name="b")
    merged = {}
    for label, root in roots.items():
        store = IndexStore(root)
        for site in SITES:  # each merge site, over the same members
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", SITES[site])
                merge_segments(spark, store, ["a", "b"], "m", commit=False)
            merged[label, site] = _tables(spark, store, "m")
    assert all(t == merged["spark", "spark"] for t in merged.values())


def test_topk_over_local_index_equals_oracle(spark, docs, tmp_path):
    store, _ = _build(spark, str(tmp_path), docs, "local")
    rows = docs.select("repo", "path", "commit", "content").collect()
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    base = store.current().segments[0].base_doc
    idx = oracle.build_index([(base + i + 1, r["content"]) for i, r in enumerate(rows)], STOPS)
    by_df = sorted(idx.postings, key=lambda t: (-idx.doc_freq(t), t))
    hi, med = by_df[0], by_df[len(by_df) // 8]
    toks = oracle.tokenize(rows[0]["content"], STOPS)
    bigram = next((a, b) for (p, a), (q, b) in zip(toks, toks[1:]) if q == p + 1)
    cases = {
        "hi": (Term(hi), oracle.score_term(idx, hi)),
        "and": (And((Term(hi), Term(med))), oracle.score_and(idx, [hi, med])),
        "or": (Or((Term(hi), Term(med))), oracle.score_or(idx, [hi, med])),
        "phrase": (Phrase(bigram), oracle.score_phrase(idx, list(bigram))),
    }
    eng = SearchEngine(spark, store)
    batch: dict[str, list] = {}
    for r in eng.topk_batch({q: node for q, (node, _) in cases.items()}, K).collect():
        batch.setdefault(r["query"], []).append((r["gdoc"], r["score"]))
    for q, (node, scores) in cases.items():
        exp = oracle.topk(scores, K)
        assert [(r["gdoc"], r["score"]) for r in eng.topk(node, K).collect()] == exp, q
        assert batch.get(q, []) == exp, q


def test_engine_relations_lazy_and_snapshot_bound(spark, docs, tmp_path):
    """Opening an engine creates no Spark relation; built later, they
    cover the generation the engine opened, not the store's current one."""
    store, _ = _build(spark, str(tmp_path), docs, "local", name="a")
    eng = SearchEngine(spark, store)
    eng.prepare_dictionary()
    terms, dfs = eng._vocab
    hi = terms[int(np.argmax(dfs))]
    expected = [(r["gdoc"], r["score"]) for r in eng.topk(Term(hi), K).collect()]
    assert eng.last_run["path"] == "local"
    lazy = ("postings", "term_stats", "_docmap", "tombstones")
    assert not any(a in eng.__dict__ for a in lazy)
    # a second segment of the same docs, committed after the open, would
    # double every hit if the Spark relations read the current manifest
    _build(spark, str(tmp_path), docs, "local", name="b")
    assert len(store.current().segments) == 2
    eng.LOCAL_MAX_POSTINGS = 0
    got = [(r["gdoc"], r["score"]) for r in eng.topk(Term(hi), K).collect()]
    assert eng.last_run["path"] == "spark"
    assert got == expected
    assert eng.postings.select("segment").distinct().collect() == [("a",)]
    assert eng.term_stats.where(F.col("term") == hi).collect()[0]["doc_freq"] == (
        eng._stats_for([hi])[hi]
    )
    assert eng.tombstones is None
    assert np.array_equal(
        np.sort([r["gdoc"] for r in eng.doc_universe().collect()]),
        np.arange(1, 181),
    )
    # an empty snapshot never falls back to the current manifest
    empty_root = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="no committed segments"):
        SearchEngine(spark, IndexStore(empty_root))
    _build(spark, empty_root, docs, "local", name="a")
    with pytest.raises(ValueError, match="snapshot is empty"):
        IndexStore(empty_root).read_union(spark, "postings", [])
