"""The one build packer: every analyzer's tokens reach the doc packer, and
a NULL text or token is indexed the way the text front indexes it."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import (
    CollationAnalyzer,
    SegmentationAnalyzer,
    StringAnalyzer,
)
from iresearch_spark.index.build import pack_docs_combined
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import Prefix, Range, SearchEngine

TEXTS = ["alpha beta", None, "gamma"]


@pytest.mark.parametrize(
    "analyzer,lens",
    [
        (StringAnalyzer(), [1, 0, 1]),
        (CollationAnalyzer(), [1, 0, 1]),
        (SegmentationAnalyzer(), [2, 0, 1]),
    ],
    ids=["string", "collation", "segmentation"],
)
def test_null_text_indexes_no_term(spark, tmp_path, analyzer, lens):
    """A NULL text under an array analyzer is a doc with no tokens: no NULL
    term in postings or term_stats, docmap len 0, and SegmentMeta counts it
    as the text analyzer would (docs_count and sum_len over len > 0)."""
    df = spark.createDataFrame(
        [("r", f"f{i}", "c0", "md", t) for i, t in enumerate(TEXTS)],
        "repo string, path string, commit string, lang string, content string",
    )
    store = IndexStore(str(tmp_path / "idx"))
    meta = build_segment(spark, store, df, "s0", analyzer=analyzer)
    for table in ("postings", "term_stats"):
        assert store.read(spark, "s0", table).where(F.col("term").isNull()).count() == 0
    dm = {r["doc_id"]: r["len"] for r in store.read(spark, "s0", "docmap").collect()}
    assert dm == {1: lens[0], 2: lens[1], 3: lens[2]}
    assert (meta.docs_total, meta.docs_count, meta.sum_len, meta.max_dl) == (
        3, 2, sum(lens), max(lens)
    )
    if isinstance(analyzer, SegmentationAnalyzer):
        return
    key = analyzer.key if isinstance(analyzer, CollationAnalyzer) else (lambda t: t)
    eng = SearchEngine(spark, store)
    for q, exp in [
        (Prefix(key("g")), [3]),
        (Range(min_term=key("a"), max_term=key("z"), scored_terms_limit=100), [1, 3]),
    ]:
        assert sorted(r["gdoc"] for r in eng.topk(q, k=10).collect()) == exp


class _UpperTerms(StringAnalyzer):
    def map_term(self, term):
        return F.upper(term)


def test_spec_less_analyzer_refusals(spark):
    """Without a text_py_spec there is no per-token map_term stage and no
    span-aware tokenization: both are refused when the plan is built."""
    df = spark.createDataFrame([(1, "a")], "doc_id long, content string")
    with pytest.raises(ValueError, match="map_term"):
        pack_docs_combined(df, _UpperTerms())
    with pytest.raises(ValueError, match="with_offsets"):
        pack_docs_combined(df, StringAnalyzer(), with_offsets=True)
    with pytest.raises(ValueError, match="payload_fn"):
        pack_docs_combined(df, StringAnalyzer(), payload_fn=lambda t, s, n: [b""] * len(t))


def test_perfbench_interposed_attributes_resolve():
    """Every attribute perfbench's traced run interposes exists where
    `Tracer.interpose` looks it up (the owner's own __dict__), so a
    `--trace 1` run cannot die on a moved or dropped name."""
    from perfbench.trace import INTERPOSED

    for mod_name, path, _layer in INTERPOSED:
        owner = importlib.import_module(mod_name)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        assert attr in owner.__dict__, (mod_name, path)
