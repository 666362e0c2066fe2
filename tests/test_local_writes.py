"""Driver-local writes: `IndexStore.remove` merges a small tombstone set on
the driver (one capped collect of the condemned rows, the table written
with pyarrow), and `merge_segments` / `consolidate` merge small members on
the driver (the same kernels in-process, no Spark job). Pinned here by
forcing each site on the same inputs:

- remove: equal tombstone sets with equal Spark schemas (MAX_INLINE_TOMBSTONES
  huge vs -1) for a first remove, a second generation with overlapping
  rows, rows for unknown segments and outside a segment's id range, an
  IntegerType doc_id, and a parquet-backed frame; the same for the
  tombstones a merge leaves behind (`rewrite_deletes_after_merge`);
- merge_segments / consolidate: value-identical postings, term_stats,
  docmap and lineage with equal schemas, and SegmentMeta equal but for
  created_at / bytes (LOCAL_BUILD_MAX_BYTES huge vs -1), with and without
  tombstones, positions, offsets, payloads, caller ids; a member with
  non-dense ids stays on Spark;
- each write logs its site at DEBUG; perfbench's ingest shape launches the
  build's collect plus one condemned read, and a local merge plus reopen
  launches no job;
- a tombstone outside its segment's id range deletes nothing, also when an
  older store already holds one.
"""

from __future__ import annotations

import dataclasses
import logging
import os
import shutil

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import iresearch_spark.index.segments as S
import iresearch_spark.search.executor as X
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.merge import consolidate, merge_segments
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import SearchEngine, Term

BUILT_TABLES = ("postings", "term_stats", "docmap", "lineage")
REMOVE_CAPS = {"local": 10**9, "spark": -1}
MERGE_CAPS = {"local": 10**15, "spark": -1}


def _cached(df):
    df = df.persist()
    df.count()
    return df


def _norm(v):
    return bytes(v) if isinstance(v, bytearray) else v


def _rows(df):
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)


def _tables(spark, store, seg):
    return {t: (store.read(spark, seg, t).schema, _rows(store.read(spark, seg, t))) for t in BUILT_TABLES}


def _deletes(spark, store):
    d = store.read_deletes(spark)
    return None if d is None else (d.schema, _rows(d))


def _site(caplog, logger: str) -> str:
    (rec,) = [r for r in caplog.records if r.name == logger]
    return rec.getMessage().split("site=")[1].split()[0]


@pytest.fixture(scope="module")
def corpora(spark):
    a = _cached(generate_corpus(spark, 150, seed=71))
    b = _cached(generate_corpus(spark, 90, seed=72))
    yield a, b
    a.unpersist()
    b.unpersist()


@pytest.fixture(scope="module")
def two_segments(spark, corpora, tmp_path_factory):
    """A store with local-built segments a (150 docs) and b (90 docs)."""
    root = str(tmp_path_factory.mktemp("two") / "ix")
    store = IndexStore(root)
    for name, docs in zip("ab", corpora):
        build_segment(spark, store, docs, name)
    return root


def _remove_both(spark, root, tmp_path, steps, caplog):
    """Run `steps` (a list of condemned-frame factories) as removes on a
    copy of `root` per site; returns {site: deletes table}."""
    out = {}
    for site, cap in REMOVE_CAPS.items():
        copy = str(tmp_path / site)
        shutil.copytree(root, copy)
        store = IndexStore(copy)
        for make in steps:
            caplog.clear()
            with pytest.MonkeyPatch.context() as mp, caplog.at_level(
                logging.DEBUG, logger="iresearch_spark.index.segments"
            ):
                mp.setattr(X, "MAX_INLINE_TOMBSTONES", cap)
                store.remove(spark, make())
            assert _site(caplog, "iresearch_spark.index.segments") == site
            assert f"cap={cap}" in caplog.records[-1].getMessage()
        out[site] = _deletes(spark, store)
    return out


def _frame(spark, rows, doc_type="long"):
    return spark.createDataFrame(rows, f"segment string, doc_id {doc_type}")


REMOVE_CASES = {
    "first": lambda sp, tmp: [lambda: _frame(sp, [("a", 3), ("a", 7), ("b", 2), ("a", 3)])],
    "second_generation": lambda sp, tmp: [
        lambda: _frame(sp, [("a", 3), ("b", 2)]),
        lambda: _frame(sp, [("a", 3), ("a", 9), ("b", 5)]),
    ],
    # unknown segments, ids outside a segment's range, NULLs: all dropped
    "unknown_and_out_of_range": lambda sp, tmp: [
        lambda: _frame(sp, [("zz", 1), ("a", 0), ("a", 151), ("b", 91), ("b", 4), (None, 2), ("a", None)])
    ],
    "integer_doc_id": lambda sp, tmp: [lambda: _frame(sp, [("a", 5), ("b", 6)], "int")],
    "integer_then_long": lambda sp, tmp: [
        lambda: _frame(sp, [("a", 5)], "int"),
        lambda: _frame(sp, [("b", 6)]),
    ],
    "parquet_backed": lambda sp, tmp: [lambda: _parquet_victims(sp, tmp)],
}


def _parquet_victims(spark, tmp):
    """The gate's shape: a filter over a parquet read."""
    path = str(tmp / "victims")
    if not os.path.exists(path):
        spark.range(1, 200).select(F.col("id").alias("doc_id")).write.parquet(path)
    return spark.read.parquet(path).where("doc_id % 7 = 0").select(F.lit("a").alias("segment"), "doc_id")


@pytest.mark.parametrize("case", sorted(REMOVE_CASES))
def test_remove_sites_equal(spark, two_segments, tmp_path, caplog, case):
    got = _remove_both(spark, two_segments, tmp_path, REMOVE_CASES[case](spark, tmp_path), caplog)
    assert got["local"] == got["spark"]
    schema, rows = got["local"]
    assert [f.name for f in schema] == ["segment", "doc_id"]
    if case == "unknown_and_out_of_range":
        assert rows == [("b", 4)]
    if case == "integer_doc_id":
        assert schema["doc_id"].dataType.simpleString() == "int"
    if case == "integer_then_long":
        assert schema["doc_id"].dataType.simpleString() == "bigint"
    if case == "parquet_backed":
        assert rows == sorted((("a", d) for d in range(7, 151, 7)), key=repr)


@pytest.mark.parametrize("merged_away", [["a"], ["a", "b"]])
def test_rewrite_deletes_after_merge_sites_equal(spark, two_segments, tmp_path, merged_away):
    got = {}
    for site, cap in REMOVE_CAPS.items():
        copy = str(tmp_path / site)
        shutil.copytree(two_segments, copy)
        store = IndexStore(copy)
        store.remove(spark, _frame(spark, [("a", 3), ("a", 8), ("b", 2)]))
        m = store.current()
        m.gen += 1
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(X, "MAX_INLINE_TOMBSTONES", cap)
            store.rewrite_deletes_after_merge(spark, m, merged_away)
        store.commit(m)
        got[site] = (m.deletes_gen, _deletes(spark, store))
    assert got["local"] == got["spark"]
    gen, dels = got["local"]
    if len(merged_away) == 2:
        assert gen is None and dels is None
    else:
        assert dels[1] == [("b", 2)]


def _segment_of(spark, texts, doc_ids):
    return _cached(
        spark.createDataFrame(list(zip(doc_ids, texts)), "doc_id long, content string")
    )


def test_out_of_range_tombstone_deletes_nothing(spark, tmp_path):
    """s0 holds docs 1-3 (gdocs 1-3), s1 docs 1-3 (gdocs 4-6): ("s0", 5)
    names no doc of s0 and must not delete gdoc 5, s1's doc 2."""
    store = IndexStore(str(tmp_path / "ix"))
    for name, word in (("s0", "alpha"), ("s1", "beta")):
        docs = _segment_of(spark, [f"{word} one", f"{word} two", f"{word} three"], [1, 2, 3])
        build_segment(spark, store, docs, name, key_cols=["doc_id"], doc_id_col="doc_id")
    assert [s.base_doc for s in store.current().segments] == [0, 3]

    def hits(**caps):
        with pytest.MonkeyPatch.context() as mp:
            for k, v in caps.items():
                mp.setattr(X, k, v)
            eng = SearchEngine(spark, store)
            out = {}
            for site, budget in (("local", eng.LOCAL_MAX_POSTINGS), ("spark", 0)):
                eng.LOCAL_MAX_POSTINGS = budget
                out[site] = sorted(r["gdoc"] for r in eng.topk(Term("beta"), 10).collect())
            return out

    store.remove(spark, _frame(spark, [("s0", 5), ("s1", 1)]))
    assert _rows(store.read_deletes(spark)) == [("s1", 1)]
    assert hits() == {"local": [5, 6], "spark": [5, 6]}
    # a store written before the range check holds the stray row: every
    # tombstone tier of the engine ignores it
    m = store.current()
    m.gen += 1
    S._write_table(
        store.deletes_path(m.gen),
        pa.table({"segment": ["s0", "s1"], "doc_id": [5, 1]}),
        store.read_deletes(spark).schema,
    )
    m.deletes_gen = m.gen
    store.commit(m)
    for caps in ({}, {"MAX_INLINE_TOMBSTONES": -1}, {"MAX_BCAST_TOMBSTONES": -1}):
        assert hits(**caps) == {"local": [5, 6], "spark": [5, 6]}, caps
    meta = consolidate(spark, store, "m", min_segments=2, floor_bytes=1 << 30)
    assert meta.docs_total == 5


def _pfn(toks, starts, lens):
    return [f"{t}#{s}".encode() for t, s in zip(toks, starts)]


MERGE_CASES = {
    "plain": ({}, False),
    "tombstones": ({}, True),
    "no_positions": ({"with_positions": False}, True),
    "offsets": ({"with_offsets": True}, True),
    "payloads": ({"payload_fn": _pfn}, True),
    "int_caller_ids": ({"doc_id_col": "did"}, False),
}


def _merge_store(spark, corpora, root, kw, dels, nondense=False):
    store = IndexStore(root)
    for i, (name, docs) in enumerate(zip("ab", corpora)):
        bkw = dict(kw)
        if "doc_id_col" in kw or nondense:
            ids = F.regexp_extract("path", r"/f(\d+)\.", 1).cast("int")
            # ids 1..n (dense) or spaced by 3 (non-dense) per segment
            docs = docs.withColumn("did", ids * 3 + 5 if nondense else ids + 1)
            bkw.update(doc_id_col="did", key_cols=["did"])
        build_segment(spark, store, docs, name, **bkw)
    if dels:
        m = store.current()
        rows = [("a", m.segments[0].min_doc + d) for d in (0, 3, 3, 12)] + [("b", m.segments[1].max_doc)]
        store.remove(spark, _frame(spark, rows))
    return store


def _merge_both(spark, corpora, tmp_path, caplog, kw, dels, run, nondense=False):
    got = {}
    for site, cap in MERGE_CAPS.items():
        store = _merge_store(spark, corpora, str(tmp_path / site), kw, dels, nondense)
        caplog.clear()
        with pytest.MonkeyPatch.context() as mp, caplog.at_level(
            logging.DEBUG, logger="iresearch_spark.index.merge"
        ):
            mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", cap)
            meta = run(store)
        logged = _site(caplog, "iresearch_spark.index.merge")
        assert f"cap={cap}" in caplog.records[-1].getMessage()
        assert "footer_bytes=" in caplog.records[-1].getMessage()
        got[site] = (
            logged,
            _tables(spark, store, "m"),
            dataclasses.replace(meta, bytes=0, created_at=0.0),
            store.current().deletes_gen,
        )
    return got


@pytest.mark.parametrize("case", sorted(MERGE_CASES))
def test_merge_sites_equal(spark, corpora, tmp_path, caplog, case):
    kw, dels = MERGE_CASES[case]
    got = _merge_both(
        spark, corpora, tmp_path, caplog, kw, dels,
        lambda store: merge_segments(spark, store, ["a", "b"], "m"),
    )
    (ls, lt, lm, ld), (ss, st, sm, sd) = got["local"], got["spark"]
    assert (ls, ss) == ("local", "spark")
    assert lm == sm and ld == sd is None
    for t in BUILT_TABLES:
        assert lt[t][0] == st[t][0], t
        assert lt[t][1] == st[t][1], t
    assert lm.docs_total == 240 - (4 if dels else 0)
    if case == "int_caller_ids":
        assert lt["docmap"][0]["doc_id"].dataType.simpleString() == "int"


def test_consolidate_sites_equal(spark, corpora, tmp_path, caplog):
    got = _merge_both(
        spark, corpora, tmp_path, caplog, {}, True,
        lambda store: consolidate(spark, store, "m", min_segments=2, floor_bytes=1 << 30),
    )
    (ls, lt, lm, _), (ss, st, sm, _) = got["local"], got["spark"]
    assert (ls, ss) == ("local", "spark")
    assert lm == sm and lt == st


def test_merge_with_caller_tombstones(spark, corpora, tmp_path, caplog):
    """A caller's tombstone frame (covering a segment outside the merge)
    is read in one capped collect and merged at either site."""
    victims = lambda: _frame(spark, [("a", 2), ("b", 5), ("zz", 1)])  # noqa: E731
    got = _merge_both(
        spark, corpora, tmp_path, caplog, {}, False,
        lambda store: merge_segments(spark, store, ["a", "b"], "m", tombstones=victims()),
    )
    assert got["local"][1] == got["spark"][1]
    assert got["local"][2] == got["spark"][2]
    assert got["local"][2].docs_total == 238


def test_nondense_member_stays_on_spark(spark, corpora, tmp_path, caplog):
    got = _merge_both(
        spark, corpora, tmp_path, caplog, {}, True,
        lambda store: merge_segments(spark, store, ["a", "b"], "m"), nondense=True,
    )
    assert got["local"][0] == got["spark"][0] == "spark"
    assert got["local"][1] == got["spark"][1]


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("test-idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_index_lifecycle_jobs(spark, corpora, tmp_path):
    """perfbench's ingest shape (local build, remove of a frame made from a
    Python list, reopen + query) launches the build's collect and the
    condemned read; a local consolidation plus reopen launches none."""
    store = IndexStore(str(tmp_path / "ix"))
    a, b = corpora

    def reopen():
        eng = SearchEngine(spark, store)
        eng.prepare_dictionary()
        terms, dfs = eng._vocab
        eng.topk(Term(terms[dfs.argmax()]), 10).collect()
        assert eng.last_run["path"] == "local"

    def ingest():
        build_segment(spark, store, a, "base0")
        store.remove(spark, _frame(spark, [("base0", d) for d in (2, 9, 40)]))
        reopen()

    assert _jobs(spark, "test-ingest-jobs", ingest) == 2
    build_segment(spark, store, b, "ing1")

    def merge():
        assert consolidate(spark, store, "merged", min_segments=2, floor_bytes=1 << 30)
        reopen()

    assert _jobs(spark, "test-merge-jobs", merge) == 0
    m = store.current()
    assert [s.name for s in m.segments] == ["merged"] and m.deletes_gen is None
    assert m.segments[0].docs_total == 240 - 3
