"""Round-3 additions: combiner build equivalence, balanced doc-id
assignment, tiered multiterm tail, non-degenerate same_position, scale-safe
merge renumbering, IVF partition pruning, zero-shuffle ngram plans, and the
bounded exact_dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import (
    CollationAnalyzer,
    NgramAnalyzer,
    PipelineAnalyzer,
    SegmentationAnalyzer,
    TextAnalyzer,
)
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.build import (
    assign_doc_ids,
    doclen_from_partials,
    pack_docs_combined,
    tokenize_stream,
)
from iresearch_spark.index.codec import delta_decode, varint_decode
from tests.oracle import LEGACY_COLS, pack_tokens


@pytest.fixture(scope="module")
def docs2k(spark):
    d = assign_doc_ids(
        generate_corpus(spark, 2000, seed=7), ["repo", "path", "commit"]
    ).persist()
    d.count()
    yield d
    d.unpersist()


SEG_STOP = SegmentationAnalyzer(stopwords=("the", "a", "of", "to", "in", "is", "for", "return"))


@pytest.mark.parametrize(
    "analyzer,with_pos,max_doc",
    [
        (TextAnalyzer(), True, None),
        (TextAnalyzer(stem=True), True, None),
        (TextAnalyzer(), False, None),
        (SEG_STOP, True, None),
        (NgramAnalyzer(), True, 200),
        (CollationAnalyzer(), True, None),
        (PipelineAnalyzer(stages=(SegmentationAnalyzer(), NgramAnalyzer(min_n=3, max_n=3))), True, 200),
        (SEG_STOP, False, None),
    ],
    ids=["plain", "stem", "nopos", "seg_stop", "ngram", "collation", "pipeline", "seg_nopos"],
)
def test_combiner_pack_byte_identical(spark, docs2k, analyzer, with_pos, max_doc):
    """The combiner build (map-side invert + partial merge) — the text
    front for TextAnalyzer, the token-array front for Catalyst analyzers —
    must emit byte-identical packed blocks to the token-level pack_tokens
    reference. n-gram analyzers run on a 200-doc slice (~12x the tokens
    per doc)."""
    docs = docs2k if max_doc is None else docs2k.where(F.col("doc_id") <= max_doc)
    old = pack_tokens(
        tokenize_stream(docs, "content", analyzer, with_pos),
        with_positions=with_pos,
        num_partitions=8,
    )
    new, partials = pack_docs_combined(
        docs, analyzer, "content", with_positions=with_pos, num_partitions=8
    )
    cols = [c for c in old.columns if c not in LEGACY_COLS]
    assert new.columns == cols
    o = sorted(tuple(r) for r in old.select(*cols).collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o and o == n
    _assert_legacy_cols(old, {r["doc_id"]: r["len"] for r in doclen_from_partials(partials).collect()})


def _assert_legacy_cols(old, lens: dict) -> None:
    """The columns the library no longer writes hold what it keeps
    elsewhere: each oracle block's per-posting dl is its doc's len, and its
    last_doc is the block's last decoded doc."""
    for r in old.select("docs_bin", *LEGACY_COLS).collect():
        d = delta_decode(varint_decode(r["docs_bin"])).tolist()
        assert r["last_doc"] == d[-1]
        assert varint_decode(r["dls_bin"]).tolist() == [lens[x] for x in d]


def test_seam_pack_byte_identical(spark, tmp_path):
    """build_segment_from_tokens packs through the one build packer and
    writes the postings the token-level reference packs from the same
    rows: several terms at one position (a word's 2-grams) and one term
    repeated at one position (the 2-grams of 'aaaa'), with the caller's dl
    and shared positions unchanged."""
    from iresearch_spark.index.segments import IndexStore, build_segment_from_tokens

    texts = ["aaaa bcd aaaa", "xyz bcd", "aaaa", "bcdbcd x aaaa y"]
    rows = []
    for doc_id, text in enumerate(texts, start=1):
        words = text.split()
        for pos, w in enumerate(words):
            grams = [w[i : i + 2] for i in range(len(w) - 1)] or [w]
            rows += [(doc_id, len(words), g, pos) for g in grams]
    tokens = spark.createDataFrame(rows, "doc_id long, dl int, term string, pos long")
    docmap = spark.createDataFrame(
        [(i, len(t.split())) for i, t in enumerate(texts, start=1)], "doc_id long, len int"
    )
    store = IndexStore(str(tmp_path / "seam"))
    build_segment_from_tokens(spark, store, tokens, docmap, "s0")
    old = pack_tokens(tokens, num_partitions=4)
    cols = [c for c in old.columns if c not in LEGACY_COLS]
    written = store.read(spark, "s0", "postings")
    assert written.columns == cols
    o = sorted(tuple(r) for r in old.select(*cols).collect())
    n = sorted(tuple(r) for r in written.collect())
    assert o == n
    _assert_legacy_cols(old, {r["doc_id"]: r["len"] for r in store.read(spark, "s0", "docmap").collect()})
    (aa,) = [r for r in n if r[0] == "aa"]
    assert aa[cols.index("sum_tf")] == 3 * 4  # each of the 4 'aaaa' counts 3 'aa'


def test_doclen_side_channel(spark, docs2k):
    an = TextAnalyzer()
    _, partials = pack_docs_combined(docs2k, an, "content")
    got = {r["doc_id"]: r["len"] for r in doclen_from_partials(partials).collect()}
    exp = {
        r["doc_id"]: r["len"]
        for r in docs2k.select(
            "doc_id",
            F.size(
                F.filter(an.raw_tokens(F.col("content")), lambda t: an.keep(t))
            ).alias("len"),
        ).collect()
    }
    assert got == exp


def test_assign_doc_ids_rank_and_balance(spark):
    """ids == global rank by key; output partitioning stays the balanced
    range partitioning (no hashpartitioning(_pid) exchange — the r2 window
    version collided N pids into N buckets and starved downstream stages)."""
    corpus = generate_corpus(spark, 3000, seed=11)
    out = assign_doc_ids(corpus, ["repo", "path", "commit"], num_partitions=8)
    rows = out.select("repo", "path", "commit", "doc_id").collect()
    ranked = sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))
    assert [r["doc_id"] for r in ranked] == list(range(1, len(rows) + 1))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # balanced: no output partition should hold more than ~2x the mean
    sizes = [
        r["cnt"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    ]
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes))


def test_multiterm_tiered_tail(spark, tmp_path):
    """Prefix with scored_terms_limit < expansion: top-N terms scored,
    remaining matched terms surface their docs at score 0 (reference
    multiterm_query.cpp:36-71 lazy bitset leg with empty score)."""
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import Prefix, SearchEngine

    store = IndexStore(str(tmp_path / "idx"))
    corpus = generate_corpus(spark, 800, seed=3)
    build_segment(spark, store, corpus, "s0")
    eng = SearchEngine(spark, store)
    scored, tail = eng.expand_tiered(Prefix("v1", scored_terms_limit=2))
    assert len(scored) == 2 and tail, "fixture needs a non-empty tail"
    full = {t for t, _ in eng.expand(Prefix("v1", scored_terms_limit=1_000_000))}
    assert set(tail) == full - {t for t, _ in scored}
    hits = eng.execute(Prefix("v1", scored_terms_limit=2)).collect()
    got_docs = {r["gdoc"] for r in hits}
    # every doc matching ANY 'v1*' term is present...
    all_hits = eng.execute(Prefix("v1", scored_terms_limit=1_000_000)).collect()
    assert got_docs == {r["gdoc"] for r in all_hits}
    # ...and tail-only docs carry score exactly 0
    scored_docs = {
        r["gdoc"]
        for r in eng.execute(Prefix("v1", scored_terms_limit=2, )).collect()
        if r["score"] > 0
    }
    tail_only = got_docs - scored_docs
    assert tail_only, "fixture needs tail-only docs"
    zero = {r["gdoc"] for r in hits if r["score"] == 0.0}
    assert tail_only == zero


def test_same_position_not_degenerate(spark, sf_dir):
    """The gate's increment-0 fixture: SamePosition(('or','rt')) must be a
    STRICT subset of the conjunction of the grams (r2's identical-term
    entry collapsed to term presence)."""
    from iresearch_spark.plans.engine_gate import gate_store_pos0
    from iresearch_spark.search import And, SamePosition, SearchEngine, Term

    store = gate_store_pos0(spark, sf_dir)
    eng = SearchEngine(spark, store)
    same = {r["gdoc"] for r in eng.execute(SamePosition(("or", "rt"))).collect()}
    conj = {r["gdoc"] for r in eng.execute(And((Term("or"), Term("rt")))).collect()}
    assert same and same < conj


def test_merge_deleted_no_window(spark, tmp_path):
    """Tombstone-path dense renumber runs partition-locally — the plan has
    no Window (the r2 per-segment window serialized a segment per task)."""
    from iresearch_spark.index.merge import build_doc_map
    from iresearch_spark.index.segments import IndexStore, build_segment

    store = IndexStore(str(tmp_path / "m"))
    corpus = generate_corpus(spark, 600, seed=5).persist()
    half = corpus.limit(300)
    build_segment(spark, store, half, "a")
    build_segment(spark, store, corpus.subtract(half), "b")
    dels = spark.createDataFrame(
        [("a", i) for i in range(1, 300, 7)], "segment string, doc_id long"
    )
    dm = build_doc_map(spark, store, ["a", "b"], tombstones=dels)
    plan = dm._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = dm.collect()
    # dense 1..N, ordered (segment member order, old doc_id)
    new_ids = sorted(r["new_doc"] for r in rows)
    assert new_ids == list(range(1, len(rows) + 1))
    by_old = sorted(
        [r for r in rows if r["segment"] == "a"], key=lambda r: r["doc_id"]
    )
    assert [r["new_doc"] for r in by_old] == sorted(r["new_doc"] for r in by_old)
    corpus.unpersist()


def test_ivf_bucketed_partition_pruning(spark, sf_dir, tmp_path):
    """Physically bucketed IVF table: a list_id probe prunes partition
    directories at the scan (PartitionFilters), not post-scan."""
    from iresearch_spark.functions.similarity import (
        ivf_build,
        ivf_topk,
        ivf_write_bucketed,
        release_cached,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.where("vec_id = 0").collect()[0]["embedding"])
    indexed, cents = ivf_build(emb, dim=len(q), n_lists=4, iters=1)
    path = str(tmp_path / "ivf")
    ivf_write_bucketed(indexed, path)
    release_cached(indexed)
    bucketed = spark.read.parquet(path)
    probe = ivf_topk(bucketed, cents, q, 10, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]
    # full-probe over the bucketed table == exact brute force
    from iresearch_spark.functions.similarity import cosine_topk

    full = ivf_topk(bucketed, cents, q, 10, nprobe=4).collect()
    exact = cosine_topk(emb, q, 10).collect()
    assert [(r["id"], round(r["cosine"], 9)) for r in full] == [
        (r["id"], round(r["cosine"], 9)) for r in exact
    ]


def test_ngram_match_zero_shuffle_plan(spark, sf_dir):
    """Matched-fraction ngram similarity is pure Catalyst: no Exchange
    anywhere in the plan (the r2 token self-join shuffled twice)."""
    from iresearch_spark.functions.ngramsim import ngram_match_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_match_topk(docs, ["fast", "key", "order", "sort"], threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ngram_similarity_no_self_join(spark, sf_dir):
    """Longest-sequence variant: the gram stream is built inside the row —
    the plan contains no join and no exchange before the final top-k."""
    from iresearch_spark.functions.ngramsim import ngram_similarity_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_similarity_topk(docs, ["fast", "key", "order", "sort"], threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_offsets_stream(spark, tmp_path):
    """with_offsets: (a) decoded spans equal an independent re.finditer
    oracle over the lowered text; (b) the non-offset columns are
    byte-identical to a build without offsets."""
    import re

    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine

    corpus = generate_corpus(spark, 300, seed=13).persist()
    s1, s2 = IndexStore(str(tmp_path / "a")), IndexStore(str(tmp_path / "b"))
    build_segment(spark, s1, corpus, "s", with_offsets=True)
    build_segment(spark, s2, corpus, "s")
    p1 = spark.read.parquet(s1.seg_path("s", "postings"))
    p2 = spark.read.parquet(s2.seg_path("s", "postings"))
    cols = p2.columns
    assert sorted(map(tuple, p1.select(*cols).collect())) == sorted(
        map(tuple, p2.collect())
    )
    eng = SearchEngine(spark, s1)
    term = eng.term_stats.orderBy(F.desc("doc_freq")).limit(1).collect()[0]["term"]
    got = {
        r["gdoc"]: (list(r["starts"]), list(r["lens"]))
        for r in eng.offsets([term]).collect()
    }
    # independent oracle: doc ids assigned by key rank, spans by finditer
    rows = sorted(
        corpus.select("repo", "path", "commit", "content").collect(),
        key=lambda r: (r["repo"], r["path"], r["commit"]),
    )
    tok_rx = re.compile("[a-z0-9_]+")
    exp = {}
    for doc_id, r in enumerate(rows, start=1):
        low = r["content"].lower()
        spans = [
            (m.start(), m.end() - m.start())
            for m in tok_rx.finditer(low)
            if m.group() == term
        ]
        if spans:
            exp[doc_id] = ([s for s, _ in spans], [l for _, l in spans])
    assert got == exp
    corpus.unpersist()


def test_proxy_filter_cache(spark, tmp_path):
    """Proxy(child): equal proxies reuse ONE persisted hit set; results
    identical to the bare child; boost applies at evaluation."""
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import And, Proxy, SearchEngine, Term

    store = IndexStore(str(tmp_path / "p"))
    corpus = generate_corpus(spark, 400, seed=21)
    build_segment(spark, store, corpus, "s0")
    eng = SearchEngine(spark, store)
    node = Proxy(child=And((Term("def"), Term("return"))))
    r1 = sorted((r["gdoc"], r["score"]) for r in eng.execute(node).collect())
    assert len(eng._proxy_cache) == 1
    cached_df = next(iter(eng._proxy_cache.values()))
    assert cached_df.storageLevel.useMemory
    r2 = sorted((r["gdoc"], r["score"]) for r in eng.execute(node).collect())
    assert len(eng._proxy_cache) == 1  # second execution hit the cache
    bare = sorted(
        (r["gdoc"], r["score"])
        for r in eng.execute(And((Term("def"), Term("return")))).collect()
    )
    assert r1 == r2 == bare and r1


def test_nested_topk(spark, tmp_path):
    """ByNestedFilter analogue: parent score = merged child scores, match
    range respected; checked against a manual per-parent aggregation of
    the engine's own (independently oracled) child hits."""
    import numpy as np

    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine, Term

    store = IndexStore(str(tmp_path / "n"))
    corpus = generate_corpus(spark, 500, seed=9)
    build_segment(spark, store, corpus, "s0")
    eng = SearchEngine(spark, store)
    got = eng.nested_topk(
        Term("def"), k=8, parent_col="repo", merge="avg", min_children=2
    ).collect()
    hits = {r["gdoc"]: r["score"] for r in eng.execute(Term("def")).collect()}
    par = {
        r["doc_id"]: r["repo"]
        for r in store.read(spark, "s0", "docmap").select("doc_id", "repo").collect()
    }
    agg: dict = {}
    for gdoc, sc in hits.items():
        agg.setdefault(par[gdoc], []).append(sc)
    manual = [
        (p, len(v), float(np.float32(np.sum(np.asarray(v, np.float64)) / len(v))))
        for p, v in agg.items()
        if len(v) >= 2
    ]
    manual.sort(key=lambda t: (-t[2], t[0]))
    exp = manual[:8]
    assert [(r["parent"], r["n_children"]) for r in got] == [
        (p, n) for p, n, _ in exp
    ]
    for r, (_, _, s) in zip(got, exp):
        assert abs(r["score"] - s) < 1e-5


def test_submit_query_task_parsing():
    """Reference benchmark task grammar (iresearch-benchmark.tasks /
    index-search.cpp:240-449) -> filter trees, no Spark needed."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "submit_query",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "submit_query.py"),
    )
    sq = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sq)
    from iresearch_spark.search import And, Fuzzy, Or, Phrase, Prefix, Term, Wildcard

    assert sq.parse_task("HighTerm", "Ref") == Term("ref")
    assert sq.parse_task("AndHighMed", "+ref +code") == And((Term("ref"), Term("code")))
    assert sq.parse_task("OrHighMed", "ref code") == Or((Term("ref"), Term("code")))
    assert sq.parse_task("LowPhrase", '"Big Bad Wolf"') == Phrase(("big", "bad", "wolf"))
    assert sq.parse_task("Prefix3", "sec*") == Prefix("sec")
    assert sq.parse_task("Wildcard", "re*f") == Wildcard("re*f")
    assert sq.parse_task("Fuzzy1", "refugees") == Fuzzy("refugees", distance=1)
    assert sq.parse_task("Fuzzy2", "refugees") == Fuzzy("refugees", distance=2)
    assert sq.parse_task("MinMatch2High2Med", "2 ref http code span") == Or(
        (Term("ref"), Term("http"), Term("code"), Term("span")), min_match=2
    )


def test_exact_dedup_bounded_samples(spark):
    """exact_dedup: counts exact, sample_ids = the max_ids smallest ids,
    no per-group rank window (bounded buffers)."""
    import pandas as pd

    from iresearch_spark.functions.dedup import exact_dedup

    rows = [(i, "dup" if i % 2 == 0 else f"uniq{i}") for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = exact_dedup(df, ["text"], max_ids=3).collect()
    assert len(out) == 1
    g = out[0]
    assert g["n_copies"] == 20
    assert g["keep_doc"] == 2
    assert list(g["sample_ids"]) == [2, 4, 6]
