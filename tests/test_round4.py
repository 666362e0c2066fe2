"""Round-4 additions: self-contained DuckDB-parity pins for the two gate
entries the r3 driver snapshot missed (embedding_neardup_pairs,
ann_lsh_topk — r3 VERDICT next-1), the de-vacuated dedup_exact fixture
(next-2), the vectorized wildcard expansion (next-3), and the broadcast
tail-expansion path (next-10)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from iresearch_spark.plans.registry import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")


def _duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _rows(df):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _duck_rows(sql):
    con = _duck()
    try:
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in con.execute(sql).fetchall()
        )
    finally:
        con.close()


def test_embedding_neardup_duck_parity(spark):
    """Registry `_emb_neardup` vs its all-pairs DuckDB oracle, run locally
    so verification does not depend on when the driver snapshots the
    registry (r3 VERDICT wrong-1)."""
    ent = REGISTRY["embedding_neardup_pairs"]
    got = _rows(ent["fn"](spark, SF_DIR))
    exp = _duck_rows(ent["duck"])
    assert len(got) > 0, "fixture must produce real near-dup pairs"
    assert got == exp


def test_lsh_ann_property_row(spark):
    """ann_lsh_topk's property row: k rows returned, overlap floor met,
    every LSH hit carries its exact cosine."""
    ent = REGISTRY["ann_lsh_topk"]
    rows = ent["fn"](spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["k"], r["n_rows"]) == (10, 10)
    assert r["overlap_floor_met"] and r["scores_exact"]


def test_dedup_exact_gate_not_vacuous(spark):
    """The r3 dedup_exact row compared 0 rows to 0 rows. The r4 fixture
    unions a duplicated slice, so the oracle checks real groups including
    the bounded sample_ids path."""
    ent = REGISTRY["dedup_exact"]
    got = _rows(ent["fn"](spark, SF_DIR))
    exp = _duck_rows(ent["duck"])
    assert len(got) >= 25  # one group per duplicated doc (plus any natural)
    assert got == exp
    # sample_ids carries both members of each synthetic group
    by_keep = {r[1]: r for r in got}
    assert by_keep[0][3] == "0,1000000"


def _tiny_engine(spark, tmp_path, docs):
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine

    store = IndexStore(str(tmp_path / "idx"))
    df = spark.createDataFrame(
        [("r", f"f{i:03d}.py", "c0", "py", t) for i, t in enumerate(docs)],
        "repo string, path string, commit string, lang string, content string",
    )
    build_segment(spark, store, df, "seg0")
    return SearchEngine(spark, store)


DOCS = [
    "spark index merge query",
    "sparse vector spark scan",
    "span of spark terms",
    "wildcard pattern span spin",
    "plain prose without the letter",
    "spun spin span spark",
]


def test_wildcard_vectorized_expansion(spark, tmp_path):
    """The vectorized (pandas str.fullmatch + literal-prefix bisect)
    wildcard expansion returns exactly what a naive per-term regex loop
    over the dictionary returns, for patterns with and without a literal
    prefix."""
    import re

    from iresearch_spark.search.query import Wildcard

    eng = _tiny_engine(spark, tmp_path, DOCS)
    vt, _ = eng._vocab_pairs()
    for pattern in ["sp*", "*a*n", "sp?n", "*", "s*k", "zz*", "sp*n*"]:
        got = vt[eng._vocab_matches(Wildcard(pattern))].tolist()
        parts = "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern
        )
        rx = re.compile("^" + parts + "$", re.DOTALL)
        exp = [t for t in vt if rx.match(t)]
        assert got == exp, pattern


def test_tail_expansion_broadcast_plan(spark, tmp_path):
    """Past TERM_IN_MAX the expansion terms reach the scan as a broadcast
    left-semi join (not a driver-serialized IN-list), and results are
    identical to the IN-list path."""
    from iresearch_spark.search.query import Prefix

    eng = _tiny_engine(spark, tmp_path, DOCS)
    node = Prefix("sp", scored_terms_limit=1000)
    base = [tuple(r) for r in eng.topk(node, k=20).collect()]
    assert len(base) > 0

    eng.TERM_IN_MAX = 1  # force the broadcast path (expansion > 1 term)
    spec = eng._query_spec(node)
    assert spec is not None
    blocks = eng._term_filtered(eng.postings, spec[0].terms.tolist())
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    got = [tuple(r) for r in eng.topk(node, k=20).collect()]
    assert got == base


def test_ngram_match_total_distinct(spark):
    """A query with REPEATED n-grams scores against the distinct-gram
    denominator (ADVICE r3): ['a','b','a','b'] has grams [ab, ba, ab] ->
    2 distinct; a doc containing both must reach score 1.0."""
    from iresearch_spark.functions.ngramsim import ngram_match_topk

    docs = spark.createDataFrame(
        [(1, "xx yy xx yy"), (2, "xx zz")], "doc_id long, text string"
    )
    out = ngram_match_topk(docs, ["xx", "yy", "xx", "yy"], threshold=0.5, k=5)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert rows[1] == 1.0


def _corpus_rows(texts, start=0):
    return [("r", f"f{start + i:03d}.py", "c0", "py", t) for i, t in enumerate(texts)]


OFF_TEXTS = [
    "spark builds fast index",
    "query the spark engine",
    "merge keeps spark offsets",
    "another doc without the term",
    "spark spark twice here",
    "tail doc mentions spark",
]


def _build_off_store(spark, root, slices, with_offsets=True):
    from iresearch_spark.index.segments import IndexStore, build_segment

    store = IndexStore(root)
    for name, rows in slices:
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        build_segment(spark, store, df, name, with_offsets=with_offsets)
    return store


def _off_rows(eng, terms):
    return sorted(
        (r["gdoc"], r["term"], tuple(r["starts"]), tuple(r["lens"]))
        for r in eng.offsets(terms).collect()
    )


def test_merge_offsets_segments(spark, tmp_path):
    """Merging with_offsets segments preserves the highlighting stream
    byte-for-byte (r3 ADVICE: the flat merge path dropped off_bin): the
    merged segment's offsets() equals a from-scratch single-segment build
    over the concatenated corpus."""
    from iresearch_spark.index.merge import merge_segments
    from iresearch_spark.search import SearchEngine

    rows = _corpus_rows(OFF_TEXTS)
    store = _build_off_store(
        spark, str(tmp_path / "multi"), [("s1", rows[:3]), ("s2", rows[3:])]
    )
    merge_segments(spark, store, ["s1", "s2"], "m12")
    got = _off_rows(SearchEngine(spark, store), ["spark"])

    single = _build_off_store(spark, str(tmp_path / "single"), [("all", rows)])
    exp = _off_rows(SearchEngine(spark, single), ["spark"])
    assert got == exp and len(got) > 0
    # spot-check: every span really covers the term in the source text
    by_doc = {i + 1: t for i, t in enumerate(OFF_TEXTS)}
    for gdoc, term, starts, lens in got:
        for s, ln in zip(starts, lens):
            assert by_doc[gdoc][s : s + ln].lower() == term


def test_merge_offsets_with_tombstones(spark, tmp_path):
    """Dense tombstone renumbering keeps offset spans aligned: merging with
    a tombstone equals a from-scratch build over the surviving docs."""
    from iresearch_spark.index.merge import merge_segments
    from iresearch_spark.search import SearchEngine

    rows = _corpus_rows(OFF_TEXTS)
    store = _build_off_store(
        spark, str(tmp_path / "multi"), [("s1", rows[:3]), ("s2", rows[3:])]
    )
    tomb = spark.createDataFrame([("s1", 2)], "segment string, doc_id long")
    merge_segments(spark, store, ["s1", "s2"], "mt", tombstones=tomb)
    got = _off_rows(SearchEngine(spark, store), ["spark"])

    kept = OFF_TEXTS[:1] + OFF_TEXTS[2:]  # s1 doc 2 (f001) dropped
    single = _build_off_store(
        spark, str(tmp_path / "single"), [("all", _corpus_rows(kept))]
    )
    exp = _off_rows(SearchEngine(spark, single), ["spark"])
    assert got == exp and len(got) > 0


def test_merge_mixed_offsets_refused(spark, tmp_path):
    """A mix of with_offsets and plain segments refuses to merge with a
    clear error instead of silently dropping highlighting (r3 ADVICE)."""
    from iresearch_spark.index.merge import merge_segments
    from iresearch_spark.index.segments import build_segment

    rows = _corpus_rows(OFF_TEXTS)
    store = _build_off_store(spark, str(tmp_path / "mix"), [("s1", rows[:3])])
    df = spark.createDataFrame(
        rows[3:], "repo string, path string, commit string, lang string, content string"
    )
    build_segment(spark, store, df, "s2", with_offsets=False)
    with pytest.raises(ValueError, match="with_offsets"):
        merge_segments(spark, store, ["s1", "s2"], "bad")


def test_bm25_tiny_norm_cache_golden(spark, tmp_path):
    """Opt-in kNorm2Tiny quantized scoring (reference bm25.cpp:345-352
    cache fill, :404-409 reciprocal evaluation — SURVEY.md §2.D's named
    rank-identity pitfall): engine scores on a 1-byte-norm segment must
    bit-match an independent NumPy oracle implementing the 256-entry
    reciprocal cache, and WAND pruning must stay rank-identical."""
    import math

    import numpy as np

    from iresearch_spark.index.merge import unpack_postings
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine, Term
    from iresearch_spark.search.scorers import BM25

    F32 = np.float32
    store = IndexStore(str(tmp_path / "tiny"))
    df = spark.createDataFrame(
        _corpus_rows(DOCS + OFF_TEXTS),
        "repo string, path string, commit string, lang string, content string",
    )
    build_segment(spark, store, df, "seg0")
    eng = SearchEngine(spark, store, scorer=BM25(tiny_norms=True))
    got = [(r["gdoc"], r["score"]) for r in eng.topk(Term("spark"), 10).collect()]

    # independent oracle: reference cache semantics re-derived from scratch
    m = store.current()
    N, avg_dl = m.docs_count, m.sum_len / m.docs_count
    dl = {r["doc_id"]: r["len"] for r in store.read(spark, "seg0", "docmap").collect()}
    flat = {
        r["doc_id"]: (r["tf"], dl[r["doc_id"]])
        for r in unpack_postings(
            store.read_union(spark, "postings", ["seg0"]), True
        )
        .where("term = 'spark'")
        .collect()
    }
    n = len(flat)
    idf = F32(math.log1p((N - n + 0.5) / (n + 0.5)))
    c0 = F32(1.0) * F32(1.2 + 1.0) * idf
    norm_const = F32(1.2) * F32(1.0 - 0.75)
    norm_length = (F32(1.2) * F32(0.75)) / F32(avg_dl)
    cache = np.empty(256, dtype=F32)
    cache[0] = 0.0
    cache[1:] = F32(1.0) / (norm_const + norm_length * np.arange(1, 256, dtype=F32))
    exp = sorted(
        (
            (d, float(F32(c0 - c0 / (F32(1.0) + F32(tf) * cache[dl]))))
            for d, (tf, dl) in flat.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == exp
    # WAND-pruned and exhaustive agree under the quantized scorer too
    nowand = [(r["gdoc"], r["score"]) for r in eng.topk(Term("spark"), 10, wand=False).collect()]
    assert got == nowand


def test_assign_doc_ids_null_keys_raise(spark, tmp_path):
    """NULL key columns would silently diverge from the documented
    row_number() rank (Spark sorts NULLs first, pandas last) — the build
    now fails fast instead (r3 ADVICE), on both build_segment sites."""
    import iresearch_spark.index.segments as S
    from iresearch_spark.index.build import assign_doc_ids

    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("c", "z")], "k string, v string"
    )
    with pytest.raises(Exception, match="NULL in key columns"):
        assign_doc_ids(df, ["k"]).collect()
    store = S.IndexStore(str(tmp_path))
    df = df.persist()
    df.count()  # a cached frame has a size estimate, so the local site applies
    for cap, err in ((10**15, ValueError), (-1, Exception)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(S, "LOCAL_BUILD_MAX_BYTES", cap)
            with pytest.raises(err, match="NULL in key columns"):
                S.build_segment(spark, store, df, "s0", text_col="v", key_cols=["k"])
    df.unpersist()
    assert not store.current().segments


def test_wand_skips_blocks_on_bursty_corpus(spark, tmp_path):
    """Block-max pruning must ENGAGE (not merely stay safe) on a corpus
    with realistic term burstiness, and stay rank-identical to exhaustive.
    Pinned at the kernel (deterministic skip counters) because at bench
    scale end-to-end wall time is fixed job overhead (r3 VERDICT next-4)."""
    from pyspark.sql import functions as F

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine
    from iresearch_spark.search.executor import _topk_sums_kernel

    store = IndexStore(str(tmp_path / "bursty"))
    n_docs = 30_000
    corpus = generate_corpus(spark, n_docs, seed=43, burstiness=0.1)
    build_segment(spark, store, corpus, "b0")
    eng = SearchEngine(spark, store)
    # a MED-frequency burst-covered term: non-burst tf is 1-3, burst docs
    # spike to 10-80, so block bounds sit far below the top-k threshold.
    # (A ubiquitous term's margin is razor-thin under BM25 tf-saturation.)
    term = (
        eng.term_stats.where(
            (F.col("term").rlike("^v[0-9]+$"))
            & (F.col("doc_freq").between(n_docs / 20, n_docs / 6))
        )
        .orderBy(F.desc("doc_freq"))
        .limit(1)
        .collect()[0]["term"]
    )
    dfreq = eng.term_stats.where(F.col("term") == term).collect()[0]["doc_freq"]
    sc = {term: eng.scorer.prepare(eng.field, dfreq, 1.0)}
    pdf = (
        eng.postings.where(F.col("term") == term).select(*eng.SCAN_COLS).toPandas()
    )
    results = {}
    for prune in (True, False):
        ctr: dict = {}
        kern = _topk_sums_kernel(
            sc, {term: 0.0}, eng.seg_base,
            k=5, min_match=1, const_add=0.0, merge="sum", mode="f32",
            deleted=None, grouped=False, prune=prune, counters=ctr,
        )
        frames = list(kern(iter([pdf])))
        results[prune] = sorted(
            map(tuple, frames[0][["gdoc", "score"]].to_numpy().tolist())
        )
        if prune:
            assert ctr.get("skipped", 0) > 0.3 * ctr["blocks"], ctr
        else:
            assert ctr.get("skipped", 0) == 0
    assert results[True] == results[False]


def test_merge_edge_tombstones_three_segments(spark, tmp_path):
    """New merge-path edges: tombstones at segment boundaries (first doc of
    a segment, last doc of another) and one segment deleted ENTIRELY. The
    merged segment must equal a from-scratch build over the survivors."""
    from iresearch_spark.index.merge import merge_segments, unpack_postings
    from iresearch_spark.search import SearchEngine

    texts = [f"doc number {i} spark payload term{i % 3}" for i in range(9)]
    rows = _corpus_rows(texts)
    store = _build_off_store(
        spark,
        str(tmp_path / "multi"),
        [("s1", rows[:3]), ("s2", rows[3:6]), ("s3", rows[6:])],
        with_offsets=False,
    )
    # s1: first doc (id 1); s2: ALL docs; s3: last doc (id 3)
    tomb = spark.createDataFrame(
        [("s1", 1), ("s2", 1), ("s2", 2), ("s2", 3), ("s3", 3)],
        "segment string, doc_id long",
    )
    meta = merge_segments(spark, store, ["s1", "s2", "s3"], "m", tombstones=tomb)
    kept = [texts[1], texts[2], texts[6], texts[7]]
    single = _build_off_store(
        spark, str(tmp_path / "single"), [("all", _corpus_rows(kept))],
        with_offsets=False,
    )
    def flat(st, seg):
        return sorted(
            (r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
            for r in unpack_postings(st.read_union(spark, "postings", [seg]), True).collect()
        )
    assert flat(store, "m") == flat(single, "all")
    assert meta.docs_count == 4
    eng = SearchEngine(spark, store)
    assert eng.topk(_round4_term("spark"), 4).count() == 4


def _round4_term(t):
    from iresearch_spark.search import Term

    return Term(t)


def test_collation_analyzer_strengths(spark):
    """Root-locale collation keys by strength (reference
    collation_token_stream.cpp:321 subset, no ICU): primary folds case AND
    accents, secondary folds case only, tertiary is identity; key order
    gives the accent/case-insensitive sort code-point order cannot."""
    from iresearch_spark.analysis.analyzers import CollationAnalyzer, get_analyzer

    prim = get_analyzer("collation")
    assert isinstance(prim, CollationAnalyzer)
    assert prim.key("Äpfel") == prim.key("apfel") == prim.key("ÄPFEL")
    sec = CollationAnalyzer(strength="secondary")
    assert sec.key("Äpfel") == sec.key("äpfel") != sec.key("apfel")
    ter = CollationAnalyzer(strength="tertiary")
    assert ter.key("Äpfel") != ter.key("äpfel")

    words = ["zebra", "Äpfel", "Banane"]
    assert sorted(words) == ["Banane", "zebra", "Äpfel"]  # code-point order
    assert sorted(words, key=prim.key) == ["Äpfel", "Banane", "zebra"]

    # Catalyst UDF path produces the same keys as the driver-side .key()
    df = spark.createDataFrame([(w,) for w in words], "t string")
    got = {
        r["t"]: r["k"][0]
        for r in df.select("t", prim.raw_tokens(F.col("t")).alias("k")).collect()
    }
    assert got == {w: prim.key(w) for w in words}


def test_collation_range_query(spark, tmp_path):
    """by_range over a collation-keyed index: bounds pass through .key(),
    matches are accent/case-insensitive (the reference's reason to index
    collation keys at all)."""
    from iresearch_spark.analysis.analyzers import CollationAnalyzer
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import Range, SearchEngine

    ana = CollationAnalyzer()
    words = ["Äpfel", "Banane", "zebra", "Ähre", "citrus"]
    store = IndexStore(str(tmp_path / "coll"))
    df = spark.createDataFrame(
        [("r", f"f{i:03d}", "c0", "md", w) for i, w in enumerate(words)],
        "repo string, path string, commit string, lang string, content string",
    )
    build_segment(spark, store, df, "c0", analyzer=ana, with_positions=False)
    eng = SearchEngine(spark, store)
    hits = eng.topk(
        Range(min_term=ana.key("a"), max_term=ana.key("c"), include_max=False,
              scored_terms_limit=100),
        k=10,
    ).collect()
    # Äpfel (1), Banane (2), Ähre (4) fall in [a, c); zebra/citrus don't
    assert sorted(r["gdoc"] for r in hits) == [1, 2, 4]


def test_import_segment(spark, tmp_path):
    """IndexWriter::Import analogue (index_writer.cpp:1653): a committed
    segment copies verbatim into another store, base_doc reassigned at
    commit; queries over the combined store see both segments' docs."""
    from iresearch_spark.index.segments import IndexStore, build_segment, import_segment
    from iresearch_spark.search import SearchEngine, Term

    rows_a = _corpus_rows(OFF_TEXTS[:3])
    rows_b = _corpus_rows(OFF_TEXTS[3:], start=3)
    src = _build_off_store(spark, str(tmp_path / "src"), [("sa", rows_a)], with_offsets=False)
    dst = _build_off_store(spark, str(tmp_path / "dst"), [("db", rows_b)], with_offsets=False)
    n_b = dst.current().docs_count

    meta = import_segment(spark, dst, src, "sa", "imported_a")
    m = dst.current()
    assert {s.name for s in m.segments} == {"db", "imported_a"}
    assert m.docs_count == n_b + src.current().docs_count
    assert meta.docs_count == src.current().docs_count

    eng = SearchEngine(spark, dst)
    hits = eng.topk(Term("spark"), 10).collect()
    # 'spark' docs from BOTH segments, disjoint gdocs
    assert len(hits) == 5 and len({r["gdoc"] for r in hits}) == 5

    # deletes on the source segment refuse import
    src.remove(spark, spark.createDataFrame([("sa", 1)], "segment string, doc_id long"))
    with pytest.raises(ValueError, match="pending deletes"):
        import_segment(spark, dst, src, "sa", "again")


def test_non_dense_caller_ids_no_gdoc_collision(spark, tmp_path):
    """Range-width base_doc spacing (r4): caller-supplied non-dense ids in
    multiple segments must not collide at query time (doc_span spacing
    could overlap gdoc ranges — same hazard class as the merge remap)."""
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import All, SearchEngine, Term

    store = IndexStore(str(tmp_path / "sparse"))
    a = spark.createDataFrame(
        [(0, "alpha spark"), (5, "beta spark")], "doc_id long, text string"
    )
    b = spark.createDataFrame([(3, "gamma spark")], "doc_id long, text string")
    build_segment(spark, store, a, "sa", text_col="text", key_cols=["doc_id"], doc_id_col="doc_id")
    build_segment(spark, store, b, "sb", text_col="text", key_cols=["doc_id"], doc_id_col="doc_id")
    eng = SearchEngine(spark, store)
    universe = [r["gdoc"] for r in eng.doc_universe().collect()]
    assert len(universe) == len(set(universe)) == 3
    hits = eng.topk(Term("spark"), 10).collect()
    assert len(hits) == 3 and len({r["gdoc"] for r in hits}) == 3


def test_damerau_matches_duckdb_property():
    """_damerau implements TRUE (unrestricted) Damerau-Levenshtein —
    property-checked against DuckDB's damerau_levenshtein over random
    word pairs (seeded), including the transposed-pair-then-edit class
    ('ca'->'abc' = 2, where restricted OSA says 3)."""
    import random

    import duckdb

    from iresearch_spark.search.executor import _damerau

    assert _damerau("ca", "abc") == 2
    assert _damerau("batch", "bathc") == 1
    assert _damerau("batch", "batch") == 0
    con = duckdb.connect()
    rng = random.Random(7)
    alpha = "abcde"
    for _ in range(300):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 8)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 8)))
        exp = con.execute("SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert _damerau(a, b) == exp, (a, b)
    con.close()


def test_bm25_legacy_norm_golden(spark, tmp_path):
    """Legacy-Norm BM25 (NormType::kNorm): engine float32 scores bit-match
    an independent NumPy oracle implementing sqrt(tf) + stored-1/sqrt(dl)
    semantics, the ordering DIFFERS from Norm2 on this fixture (bm25_test's
    Norm-vs-Norm2 property), and wand == exhaustive (pruning self-disables
    for non-dl-monotone scorers)."""
    import math

    import numpy as np

    from iresearch_spark.index.merge import unpack_postings
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine, Term
    from iresearch_spark.search.scorers import BM25

    F32 = np.float32
    store = IndexStore(str(tmp_path / "legacy"))
    df = spark.createDataFrame(
        _corpus_rows(DOCS + OFF_TEXTS),
        "repo string, path string, commit string, lang string, content string",
    )
    build_segment(spark, store, df, "seg0")
    eng = SearchEngine(spark, store, scorer=BM25(legacy_norms=True))
    got = [(r["gdoc"], r["score"]) for r in eng.topk(Term("spark"), 10).collect()]
    nowand = [(r["gdoc"], r["score"]) for r in eng.topk(Term("spark"), 10, wand=False).collect()]
    assert got == nowand

    m = store.current()
    N, avg_dl = m.docs_count, m.sum_len / m.docs_count
    dl = {r["doc_id"]: r["len"] for r in store.read(spark, "seg0", "docmap").collect()}
    flat = {
        r["doc_id"]: (r["tf"], dl[r["doc_id"]])
        for r in unpack_postings(store.read_union(spark, "postings", ["seg0"]), True)
        .where("term = 'spark'")
        .collect()
    }
    n = len(flat)
    idf = F32(math.log1p((N - n + 0.5) / (n + 0.5)))
    c0 = F32(1.0) * F32(2.2) * idf
    c1b = F32(1.2) * F32(0.25)
    slope = (F32(1.2) * F32(0.75)) / F32(avg_dl)
    def score(tf, dl):
        tfp = F32(np.sqrt(F32(tf)))
        norm = F32(1.0) / F32(np.sqrt(np.float64(dl)))
        c1 = c1b + slope * norm
        return float(F32(c0 - c0 * c1 / (c1 + tfp)))
    exp = sorted(((d, score(tf, dl)) for d, (tf, dl) in flat.items()),
                 key=lambda t: (-t[1], t[0]))[:10]
    assert got == exp
    # Norm2 ordering differs on this fixture
    n2 = [r["gdoc"] for r in SearchEngine(spark, store).topk(Term("spark"), 10).collect()]
    assert [g for g, _ in got] != n2
