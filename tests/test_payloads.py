"""Generic per-occurrence payload stream (the payload half of the
reference .pay, core/formats/formats_10.cpp:166-267 — r3 VERDICT
missing-4): caller-supplied bytes per position, written by
build_segment(payload_fn=...), read back via SearchEngine.payloads(),
preserved losslessly by the join-free merge (incl. tombstone renumbering).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import DEFAULT_DELIM_REGEX, DEFAULT_STOPWORDS
from iresearch_spark.index.merge import merge_segments
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import SearchEngine, Term

TEXTS = [
    "spark builds fast index",
    "query the spark engine twice spark",
    "merge keeps payload bytes",
    "tail doc mentions spark again",
    "spark spark spark",
    "nothing relevant here",
]


def _pfn(toks, starts, lens):
    # batch-vectorized: one call per Arrow batch over kept occurrences
    return [f"{t}@{s}".encode() for t, s in zip(toks.tolist(), starts.tolist())]


def _rows(texts, start=0):
    return [("r", f"f{start + i:03d}.py", "c0", "py", t) for i, t in enumerate(texts)]


def _expected(texts, term):
    """gdoc -> ordered payload list, recomputed independently (same
    delimiter-gap tokenization + stopword filter the analyzer pins)."""
    rx = re.compile(DEFAULT_DELIM_REGEX)
    stops = frozenset(DEFAULT_STOPWORDS)
    out = {}
    for i, text in enumerate(texts):
        low = text.lower()
        toks, prev = [], 0
        for dm in rx.finditer(low):
            s, e = dm.start(), dm.end()
            if s > prev:
                toks.append((low[prev:s], prev))
            prev = max(e, prev)
        if prev < len(low):
            toks.append((low[prev:], prev))
        pays = [f"{t}@{s}".encode() for t, s in toks if t not in stops and t == term]
        if pays:
            out[i + 1] = pays
    return out


def _build(spark, root, slices, **kw):
    store = IndexStore(root)
    for name, rows in slices:
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        build_segment(spark, store, df, name, payload_fn=_pfn, **kw)
    return store


def _payload_map(eng, term):
    return {
        r["gdoc"]: [bytes(b) for b in r["payloads"]]
        for r in eng.payloads([term]).collect()
    }


def test_payload_roundtrip(spark, tmp_path):
    store = _build(spark, str(tmp_path / "one"), [("all", _rows(TEXTS))])
    eng = SearchEngine(spark, store)
    got = _payload_map(eng, "spark")
    assert got == _expected(TEXTS, "spark")
    # multiple occurrences stay in position order
    assert got[5] == [b"spark@0", b"spark@6", b"spark@12"]
    # scoring path untouched by the extra stream
    assert eng.topk(Term("spark"), 5).count() == 4


def test_payload_with_offsets_together(spark, tmp_path):
    store = _build(
        spark, str(tmp_path / "both"), [("all", _rows(TEXTS))], with_offsets=True
    )
    eng = SearchEngine(spark, store)
    assert _payload_map(eng, "spark") == _expected(TEXTS, "spark")
    offs = eng.offsets(["spark"]).collect()
    assert len(offs) == len(_expected(TEXTS, "spark"))


def test_payload_merge_preserved(spark, tmp_path):
    rows = _rows(TEXTS)
    store = _build(
        spark, str(tmp_path / "multi"), [("s1", rows[:3]), ("s2", rows[3:])]
    )
    merge_segments(spark, store, ["s1", "s2"], "m")
    got = _payload_map(SearchEngine(spark, store), "spark")
    assert got == _expected(TEXTS, "spark")


def test_payload_merge_with_tombstones(spark, tmp_path):
    rows = _rows(TEXTS)
    store = _build(
        spark, str(tmp_path / "tomb"), [("s1", rows[:3]), ("s2", rows[3:])]
    )
    tomb = spark.createDataFrame([("s1", 2), ("s2", 2)], "segment string, doc_id long")
    merge_segments(spark, store, ["s1", "s2"], "mt", tombstones=tomb)
    kept = [TEXTS[0], TEXTS[2], TEXTS[3], TEXTS[5]]  # survivors, dense renumber
    got = _payload_map(SearchEngine(spark, store), "spark")
    assert got == _expected(kept, "spark")


def test_payload_mixed_merge_refused(spark, tmp_path):
    rows = _rows(TEXTS)
    store = _build(spark, str(tmp_path / "mix"), [("s1", rows[:3])])
    df = spark.createDataFrame(
        rows[3:], "repo string, path string, commit string, lang string, content string"
    )
    build_segment(spark, store, df, "s2")  # no payload_fn
    with pytest.raises(ValueError, match="payload"):
        merge_segments(spark, store, ["s1", "s2"], "bad")


def test_mixed_positions_merge_refused(spark, tmp_path):
    """Review finding r4: a with_positions / positions-less mix must refuse
    loudly instead of dying mid-kernel on misaligned token streams."""
    store = IndexStore(str(tmp_path / "posmix"))
    rows = _rows(TEXTS)
    df1 = spark.createDataFrame(
        rows[:3], "repo string, path string, commit string, lang string, content string"
    )
    df2 = spark.createDataFrame(
        rows[3:], "repo string, path string, commit string, lang string, content string"
    )
    build_segment(spark, store, df1, "s1")
    build_segment(spark, store, df2, "s2", with_positions=False)
    with pytest.raises(ValueError, match="with_positions"):
        merge_segments(spark, store, ["s1", "s2"], "bad")


def test_phrase_refused_on_positions_mixed_store(spark, tmp_path):
    """A store mixing with_positions and positions-less segments opens for
    scoring, but a phrase must refuse loudly at both execution sites,
    naming the plain segments, instead of dying in the kernel on the
    null-filled position stream."""
    from iresearch_spark.search import Phrase

    store = IndexStore(str(tmp_path / "posmix"))
    schema = "repo string, path string, commit string, lang string, content string"
    rows = _rows(TEXTS)
    build_segment(spark, store, spark.createDataFrame(rows[:3], schema), "s1")
    build_segment(
        spark, store, spark.createDataFrame(rows[3:], schema), "s2", with_positions=False
    )
    eng = SearchEngine(spark, store)
    eng.prepare_dictionary()
    assert not eng.has_positions
    phrase = Phrase(("spark", "engine"))
    for budget in (10**12, 0):
        eng.LOCAL_MAX_POSTINGS = budget
        with pytest.raises(ValueError, match=r"\['s2'\] lack the pos_bin"):
            eng.topk(phrase, 5).collect()
        with pytest.raises(ValueError, match=r"\['s2'\] lack the pos_bin"):
            eng.topk_batch({"p": phrase, "t": Term("spark")}, 5).collect()
        # scoring still reads both segments
        assert {r["gdoc"] for r in eng.topk(Term("spark"), 10).collect()} == {1, 2, 4, 5}


def test_merge_foreign_segment_tombstones_ignored(spark, tmp_path):
    """Review finding r4: caller-supplied tombstones covering segments
    OUTSIDE the merge set are ignored (the r3 anti-join semantics), not a
    KeyError in the inline remap."""
    store = IndexStore(str(tmp_path / "foreign"))
    rows = _rows(TEXTS)
    for name, sl in (("s1", rows[:2]), ("s2", rows[2:4]), ("s3", rows[4:])):
        df = spark.createDataFrame(
            sl, "repo string, path string, commit string, lang string, content string"
        )
        build_segment(spark, store, df, name, payload_fn=_pfn)
    tomb = spark.createDataFrame(
        [("s1", 1), ("s3", 1)], "segment string, doc_id long"
    )
    meta = merge_segments(spark, store, ["s1", "s2"], "m12", tombstones=tomb)
    assert meta.docs_count == 3  # s1 doc 1 dropped; s3's tombstone ignored
    assert {s.name for s in store.current().segments} == {"m12", "s3"}


def test_mixed_store_stream_consumers_fail_loudly(spark, tmp_path):
    """Review finding r4: a store mixing payload-built and plain segments
    stays scoreable, but offsets()/payloads() raise naming the segments
    that lack the stream instead of silently omitting their docs."""
    store = _build(spark, str(tmp_path / "mixq"), [("s1", _rows(TEXTS[:3]))],
                   with_offsets=True)
    df = spark.createDataFrame(
        _rows(TEXTS[3:], start=3),
        "repo string, path string, commit string, lang string, content string",
    )
    build_segment(spark, store, df, "s2")  # plain
    eng = SearchEngine(spark, store)
    assert eng.topk(Term("spark"), 5).count() > 0  # scoring still works
    with pytest.raises(ValueError, match="s2.*pay_bin|pay_bin.*s2"):
        eng.payloads(["spark"])
    with pytest.raises(ValueError, match="off_bin"):
        eng.offsets(["spark"])
