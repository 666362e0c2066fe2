"""Round-5 additions: bounded Damerau expansion (numpy batched DP,
vocab-routed with zero Spark jobs, distributed executor-side verify when
the dictionary is too large — r4 VERDICT wrong-3/next-4), and the
vectorized offsets/payloads stream kernels (next-2) staying correct."""

from __future__ import annotations

import random

import duckdb
import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import Fuzzy, SearchEngine
from iresearch_spark.search.executor import _damerau, _damerau_batch


def test_damerau_batch_matches_scalar_property():
    """_damerau_batch == scalar _damerau == DuckDB damerau_levenshtein
    over seeded random pairs, including empty strings, length skew, and
    the transposed-pair-then-edit class; exercised across chunk
    boundaries (chunk=4 forces multiple chunks per length group)."""
    rng = random.Random(11)
    alpha = "abcde"
    queries = ["bathc", "", "ab", "abcdeabc"]
    con = duckdb.connect()
    try:
        for q in queries:
            cands = [
                "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 9)))
                for _ in range(120)
            ] + ["batch", "bathc", "ca", "abc", ""]
            got = _damerau_batch(cands, q, target_bytes=1)
            for c, g in zip(cands, got):
                assert g == _damerau(c, q), (c, q)
                exp = con.execute(
                    "SELECT damerau_levenshtein(?, ?)", [c, q]
                ).fetchone()[0]
                assert g == exp, (c, q)
    finally:
        con.close()


@pytest.fixture(scope="module")
def dam_engine(spark, tmp_path_factory):
    corpus = generate_corpus(spark, 200, seed=13)
    st = IndexStore(str(tmp_path_factory.mktemp("dam_ix")))
    build_segment(spark, st, corpus, "seg0")
    return SearchEngine(spark, st)


def test_fuzzy_damerau_vocab_path_runs_no_spark_jobs(dam_engine):
    """With the dictionary cached, the Damerau expansion is driver-local
    (length-band + batched DP): poisoning term_stats proves no Spark plan
    is touched — the r4 unbounded lev<=2d driver collect is gone."""
    eng = dam_engine
    eng.prepare_dictionary()
    assert eng._vocab not in (None, False)
    saved = eng.term_stats
    try:
        eng.term_stats = None  # any Spark access would AttributeError
        pairs = eng.expand(
            Fuzzy("conts", distance=1, transpositions=True, max_terms=1_000_000)
        )
    finally:
        eng.term_stats = saved
    terms = [t for t, _ in pairs]
    assert "const" in terms  # transposition distance 1
    assert all(_damerau(t, "conts") <= 1 for t in terms)
    # df ordering invariant: (doc_freq desc, term asc)
    assert pairs == sorted(pairs, key=lambda p: (-p[1], p[0]))


def test_fuzzy_damerau_distributed_path_equals_vocab_path(dam_engine):
    """Dictionary too large to cache -> the lev<=2d superset is verified
    by the batched DP on the EXECUTORS (mapInPandas) and only true
    matches reach the driver; results identical to the vocab path."""
    eng = dam_engine
    eng.prepare_dictionary()
    leaf = Fuzzy("conts", distance=2, transpositions=True, max_terms=1_000_000)
    via_vocab = eng.expand(leaf)
    saved = eng._vocab
    try:
        eng._vocab = None  # simulate vocab > VOCAB_CACHE_MAX
        via_spark = eng.expand(leaf)
    finally:
        eng._vocab = saved
    assert via_vocab == via_spark
    assert len(via_vocab) > 0


def test_build_sliced_resume_and_equivalence(spark, tmp_path_factory, monkeypatch):
    """Resumable sliced build (the 100-TB operational shape): a build that
    crashes after 2 of 4 slice commits resumes by re-invocation — the 2
    committed slices are SKIPPED (commit = checkpoint), the rest build —
    and the finished sliced store scores every document identically to a
    single-segment build of the same corpus (global stats come from the
    manifest, so BM25 is partition-invariant)."""
    import iresearch_spark.index.segments as segmod
    from iresearch_spark.search import SearchEngine, Term

    corpus = generate_corpus(spark, 240, seed=31).persist()
    st = IndexStore(str(tmp_path_factory.mktemp("sliced")))

    real_build = segmod.build_segment
    calls = {"n": 0}

    def crashing(*a, **kw):
        if calls["n"] >= 2:
            raise RuntimeError("simulated pre-emption")
        calls["n"] += 1
        return real_build(*a, **kw)

    monkeypatch.setattr(segmod, "build_segment", crashing)
    with pytest.raises(RuntimeError, match="pre-emption"):
        segmod.build_sliced(spark, st, corpus, 4, prefix="sl")
    assert {s.name for s in st.current().segments} == {"sl00000", "sl00001"}

    monkeypatch.setattr(segmod, "build_segment", real_build)
    built = {"names": []}

    def counting(spark_, store_, docs_, name, **kw):
        built["names"].append(name)
        return real_build(spark_, store_, docs_, name, **kw)

    monkeypatch.setattr(segmod, "build_segment", counting)
    metas = segmod.build_sliced(spark, st, corpus, 4, prefix="sl")
    assert built["names"] == ["sl00002", "sl00003"]  # committed slices skipped
    assert [m.name for m in metas] == [f"sl{i:05d}" for i in range(4)]

    # equivalence to a single-segment build, by document identity
    ref = IndexStore(str(tmp_path_factory.mktemp("ref")))
    real_build(spark, ref, corpus, "all")
    corpus.unpersist()

    def keyed_scores(store):
        from pyspark.sql import functions as F

        eng = SearchEngine(spark, store)
        hits = eng.topk(Term("const"), 1000)
        # map gdoc back to document identity via manifest base offsets
        parts = []
        for s in store.current().segments:
            parts.append(
                store.read(spark, s.name, "docmap").select(
                    (F.col("doc_id") + F.lit(s.base_doc)).alias("gdoc"),
                    "repo", "path", "commit",
                )
            )
        dm_all = parts[0]
        for p in parts[1:]:
            dm_all = dm_all.unionByName(p)
        return sorted(
            (r["repo"], r["path"], r["commit"], round(r["score"], 4))
            for r in hits.join(dm_all, "gdoc").collect()
        )

    assert keyed_scores(st) == keyed_scores(ref)
    assert len(keyed_scores(ref)) > 0


def test_offsets_payloads_multiblock_multisegment(spark, tmp_path_factory):
    """Stress the r5 batch-decode kernels where the per-row loop they
    replaced could not go wrong: posting lists spanning MULTIPLE 128-doc
    blocks (delta/start-delta cumsum must reset at block and doc
    boundaries inside one concatenated decode) and TWO segments (seg_base
    remap via factorize). Expectations recomputed independently."""
    from iresearch_spark.search import SearchEngine

    n_per_seg = 150  # 2 blocks per segment for the common term
    def text(i):
        return ("zz " * (i % 7)) + "spark like spark"

    def rows(seg, n):
        return [
            ("r", f"{seg}_{i:04d}.py", "c0", "py", text(i)) for i in range(n)
        ]

    st = IndexStore(str(tmp_path_factory.mktemp("mb")))
    for seg in ("a", "b"):
        df = spark.createDataFrame(
            rows(seg, n_per_seg),
            "repo string, path string, commit string, lang string, content string",
        )
        build_segment(
            spark, st, df, seg, with_offsets=True,
            payload_fn=lambda toks, starts, lens: [
                f"{t}@{s}".encode() for t, s in zip(toks.tolist(), starts.tolist())
            ],
        )
    eng = SearchEngine(spark, st)
    base = {"a": 0, "b": n_per_seg}

    def expected(i):
        k = 3 * (i % 7)
        return [k, k + 11]  # the two 'spark' char starts in text(i)

    offs = {
        r["gdoc"]: (list(r["starts"]), list(r["lens"]))
        for r in eng.offsets(["spark"]).collect()
    }
    pays = {
        r["gdoc"]: [bytes(b) for b in r["payloads"]]
        for r in eng.payloads(["spark"]).collect()
    }
    assert len(offs) == len(pays) == 2 * n_per_seg
    for seg in ("a", "b"):
        for i in range(n_per_seg):
            g = base[seg] + i + 1  # doc ids are 1-based rank by path
            exp = expected(i)
            assert offs[g] == (exp, [5, 5]), (seg, i, offs[g])
            assert pays[g] == [f"spark@{s}".encode() for s in exp], (seg, i)


def test_classify_labels_duck_parity(spark):
    """Model-free classification analogue (§2.A classification /
    nearest_neighbors — the last unimplemented SURVEY row): registry
    `classify_labels` vs its all-pairs DuckDB oracle, plus the top-k=2
    nearest_labels contract (rank column, tie ordering)."""
    import duckdb as _dd
    import os as _os

    from pyspark.sql import functions as F

    from iresearch_spark.plans.registry import REGISTRY
    from iresearch_spark.functions.similarity import nearest_labels

    sf = _os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")
    ent = REGISTRY["classify_labels"]
    got = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in ent["fn"](spark, sf).collect()
    )
    con = _dd.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
        exp = sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in con.execute(ent["duck"]).fetchall()
        )
    finally:
        con.close()
    assert len(got) > 0
    assert got == exp
    # top-2 contract: 2 rows per doc, rank 1 cosine >= rank 2 cosine
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    labs = emb.where("vec_id < 8").select(F.col("vec_id").alias("label"), "embedding")
    top2 = nearest_labels(emb.where("vec_id >= 8"), labs, k=2).collect()
    by_id: dict = {}
    for r in top2:
        by_id.setdefault(r["id"], []).append(r)
    for rows in by_id.values():
        assert len(rows) == 2
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["cosine"] >= rows[1]["cosine"]


def test_merge_force_flat_equals_packed(spark, tmp_path_factory):
    """force_flat (the legacy flat pipeline, kept as a benchmark twin for
    merge_10seg_flat) produces byte-for-byte the same logical postings as
    the join-free packed path on identical inputs."""
    from pyspark.sql import functions as F

    from iresearch_spark.index.merge import merge_segments, unpack_postings

    corpus = generate_corpus(spark, 120, seed=17)
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2))
    st = IndexStore(str(tmp_path_factory.mktemp("ff")))
    build_segment(spark, st, corpus.where(h == 0), "a")
    build_segment(spark, st, corpus.where(h == 1), "b")

    def flat(seg):
        blocks = st.read_union(spark, "postings", [seg])
        return {
            (r["term"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
            for r in unpack_postings(blocks, with_positions=True).collect()
        }

    merge_segments(spark, st, ["a", "b"], "packed", commit=False)
    merge_segments(spark, st, ["a", "b"], "flatm", commit=False, force_flat=True)
    got_p, got_f = flat("packed"), flat("flatm")
    assert len(got_p) > 0
    assert got_p == got_f


def test_bm25_auto_tiny_norm_selection(dam_engine):
    """Auto-mode parity (r4 VERDICT next-6): the reference picks the
    256-entry reciprocal cache WHENEVER norms fit one byte
    (bm25.cpp:348-353); `BM25(auto_norms=True)` must equal the opt-in
    tiny mode when max_dl <= 255 and the factored form past 255 /
    unknown — pinned at prepare() level and end-to-end on the engine."""
    import numpy as np

    from iresearch_spark.search.scorers import (
        BM25,
        BM25TermScorer,
        BM25TinyNormTermScorer,
        FieldStats,
    )

    tfs = np.array([1, 3, 7, 20], dtype=np.int64)
    dls = np.array([10, 100, 200, 255], dtype=np.int64)
    fs_tiny = FieldStats(100, 5000, max_dl=200)
    auto = BM25(auto_norms=True).prepare(fs_tiny, 10)
    optin = BM25(tiny_norms=True).prepare(fs_tiny, 10)
    assert isinstance(auto, BM25TinyNormTermScorer)
    assert np.array_equal(auto.scores(tfs, dls), optin.scores(tfs, dls))
    for fs in (FieldStats(100, 500000, max_dl=1000), FieldStats(100, 5000)):
        wide = BM25(auto_norms=True).prepare(fs, 10)
        assert isinstance(wide, BM25TermScorer)
        plain = BM25().prepare(fs, 10)
        assert np.array_equal(wide.scores(tfs, dls), plain.scores(tfs, dls))
    # end-to-end: the r5 manifest records max_dl; auto == whichever mode
    # that value selects, bit-for-bit on the same store
    from iresearch_spark.search import SearchEngine, Term

    eng_auto = SearchEngine(
        dam_engine.spark, dam_engine.store, scorer=BM25(auto_norms=True)
    )
    mdl = eng_auto.manifest.max_dl
    assert mdl >= 0, "r5 build must record max_dl in the manifest"
    twin = SearchEngine(
        dam_engine.spark,
        dam_engine.store,
        scorer=BM25(tiny_norms=True) if mdl <= 255 else BM25(),
    )
    got = [(r["gdoc"], r["score"]) for r in eng_auto.topk(Term("const"), 10).collect()]
    exp = [(r["gdoc"], r["score"]) for r in twin.topk(Term("const"), 10).collect()]
    assert got == exp and len(got) > 0


def test_pin_postings_identical_results(dam_engine):
    """pin_postings (hot-index posture) changes only the physical scan
    (cached columnar batches instead of parquet), never results."""
    from iresearch_spark.search import Or, SearchEngine, Term

    cold = SearchEngine(dam_engine.spark, dam_engine.store)
    node = Or((Term("const"), Term("sort")))
    before = [(r["gdoc"], r["score"]) for r in cold.topk(node, 20).collect()]
    pinned = SearchEngine(dam_engine.spark, dam_engine.store).pin_postings()
    after = [(r["gdoc"], r["score"]) for r in pinned.topk(node, 20).collect()]
    assert before == after and len(before) > 0
    assert pinned.postings.storageLevel.useMemory
    pinned.postings.unpersist()


def test_fuzzy_damerau_topk_end_to_end(dam_engine):
    """Engine top-k through the Damerau leaf still matches the scalar
    expansion contract after the batched rewrite."""
    hits = dam_engine.topk(
        Fuzzy("conts", distance=1, transpositions=True), k=5
    ).collect()
    assert len(hits) > 0
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)
