"""Round-6 additions: distributed unscored tail in the no-vocab regime
(zero full-expansion collects — r5 VERDICT next-1/next-8), fuzzy d=3/4
parity (next-4), tokenizer fast-path caret guard (r5 ADVICE), gate-window
rotation regression guard (next-7), the Damerau chunk-sizing fix, the
driver-local plain-fuzzy batched DP, batched multi-query execution
(topk_batch ≡ per-query topk, incl. under tombstones), near-dup
clustering (connected components vs a recursive-CTE oracle), multi-field
search (per-field stores, cross-field booleans), and the automatic
per-run oracle twin for EVERY rotation-pool entry."""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import Fuzzy, Prefix, Range, SearchEngine, Wildcard


@pytest.fixture(scope="module")
def store800(spark, tmp_path_factory):
    store = IndexStore(str(tmp_path_factory.mktemp("idx6") / "idx"))
    corpus = generate_corpus(spark, 800, seed=3)
    build_segment(spark, store, corpus, "s0")
    return store


def _novocab(spark, store) -> SearchEngine:
    eng = SearchEngine(spark, store)
    eng.VOCAB_CACHE_MAX = -1  # force the >1M-term (100-TB) regime
    return eng


MULTITERM_NODES = [
    Prefix("v1", scored_terms_limit=2),
    Prefix("s", scored_terms_limit=3),
    Wildcard("*a*n", scored_terms_limit=2),
    Range(min_term="q", max_term="t", include_max=False, scored_terms_limit=2),
    Fuzzy("batch", distance=1, max_terms=2),
    Fuzzy("batch", distance=3, max_terms=3),
    Fuzzy("bathc", distance=1, transpositions=True, max_terms=2),
]


@pytest.mark.parametrize(
    "node", MULTITERM_NODES, ids=[repr(n)[:40] for n in MULTITERM_NODES]
)
def test_novocab_tail_rank_identity(spark, store800, node):
    """Vocab-cache-off must produce IDENTICAL hits (docs AND scores) to the
    vocab-cached engine for every multiterm shape, with the unscored tail
    flowing to the postings scan as a distributed predicate/semi-join —
    tail-only docs still surface at score 0 (reference lazy bitset,
    multiterm_query.cpp:36-71)."""
    ref = SearchEngine(spark, store800)
    ref.prepare_dictionary()
    assert ref._vocab_pairs() is not None, "fixture must fit the vocab cache"
    eng = _novocab(spark, store800)
    assert eng._vocab_pairs() is None
    exp = {(r["gdoc"], r["score"]) for r in ref.execute(node).collect()}
    got = {(r["gdoc"], r["score"]) for r in eng.execute(node).collect()}
    assert got == exp
    kexp = [(r["gdoc"], r["score"]) for r in ref.topk(node, k=20).collect()]
    kgot = [(r["gdoc"], r["score"]) for r in eng.topk(node, k=20).collect()]
    assert kgot == kexp


def test_novocab_never_collects_expansion(spark, store800, monkeypatch):
    """The no-vocab regime must NEVER materialize matched terms on the
    driver beyond the bounded scored head: every DataFrame.collect during
    expansion AND execution returns <= max(scored limit, k) rows (the r5
    unbounded `orderBy(..).collect()` pulled EVERY matched term —
    executor.py:852, r5 VERDICT wrong-1)."""
    eng = _novocab(spark, store800)
    sizes: list[int] = []
    cls = type(eng.term_stats)  # the concrete (classic) DataFrame class
    orig = cls.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "collect", spy)
    node = Prefix("v", scored_terms_limit=2)
    scored, tail = eng.expand_tiered(node)
    assert len(scored) == 2
    assert not isinstance(tail, list), "tail must stay distributed"
    # the full expansion is much wider than the head
    n_match = eng.term_stats.where(F.col("term").startswith("v")).count()
    assert n_match > 10
    orig(eng.topk(node, k=5))  # exercise the full query path under the spy
    assert sizes and max(sizes) <= 5, sizes
    # Damerau path: distributed verify, bounded head collect only
    sizes.clear()
    dnode = Fuzzy("bathc", distance=1, transpositions=True, max_terms=2)
    scored, tail = eng.expand_tiered(dnode)
    assert isinstance(tail, DataFrame)
    assert sizes and max(sizes) <= 2, sizes


def test_novocab_prefix_pushdown(spark, store800):
    """The tail predicate must reach the parquet postings scan as a pushed
    filter (StartsWith) — not a post-scan driver filter."""
    eng = _novocab(spark, store800)
    df = eng.execute(Prefix("v1", scored_terms_limit=2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith(term,v1)" in plan.replace(" ", "").replace("'", ""), plan[:4000]


def test_fuzzy_d3_d4_vs_duckdb(spark, store800):
    """Plain fuzzy at d=3 and d=4 (reference parametric DFA bound,
    levenshtein_utils.cpp:756): expansion matches exactly DuckDB's
    levenshtein over the same vocabulary."""
    eng = SearchEngine(spark, store800)
    eng.prepare_dictionary()
    vocab = eng._vocab_pairs()[0]
    con = duckdb.connect()
    rng = random.Random(60)
    queries = ["batch", "ke", "xqzw", rng.choice(vocab)]
    for d in (3, 4):
        for q in queries:
            got = {t for t, _ in eng.expand(Fuzzy(q, distance=d, max_terms=1_000_000))}
            exp = {
                t
                for t in vocab
                if con.execute("SELECT levenshtein(?, ?)", [t, q]).fetchone()[0] <= d
            }
            assert got == exp, (q, d, got ^ exp)


def test_damerau_novocab_distributed_verify(spark, store800):
    """Damerau no-vocab: matches come from the executor-side verify and
    equal the vocab-path matches for d in (1, 2, 3)."""
    ref = SearchEngine(spark, store800)
    ref.prepare_dictionary()
    eng = _novocab(spark, store800)
    for d in (1, 2, 3):
        node = Fuzzy("bathc", distance=d, transpositions=True, max_terms=1_000_000)
        exp = ref.expand(node)
        got = sorted(
            (
                (r["term"], r["doc_freq"])
                for r in eng._damerau_matches_df(node).collect()
            ),
            key=lambda p: (-p[1], p[0]),
        )
        assert got == exp, (d, got, exp)


def test_tokenizer_fastpath_caret_guard(spark):
    """A negated-class delimiter whose content starts with a bare '^'
    (e.g. '[^^abc]+') must NOT take the findall fast path — the complement
    class would be negated again, silently inverting tokenization (r5
    ADVICE medium). '[^^]+' must not crash the build either."""
    from iresearch_spark.index.build import _make_doc_packer
    import re

    for delim, text in [
        ("[^^abc]+", "foo^bar baz abc"),
        ("[^^]+", "a^b^^c"),
        ("[^a-z]+", "Plain fast path still works fine"),
    ]:
        spec = {
            "delim": delim,
            "stop": frozenset(),
            "lower": True,
            "stem": False,
            "accent": False,
        }
        fn = _make_doc_packer(spec, "content", 7, with_positions=False)
        out = list(fn(iter([pd.DataFrame({"doc_id": [1], "content": [text]})])))
        got_terms = set()
        for pdf in out:
            got_terms |= set(pdf.loc[pdf["term"].notna(), "term"])
        exp = {t for t in re.split(delim, text.lower()) if t}
        assert got_terms == exp, (delim, got_terms, exp)


def test_gate_window_rotation_guard(monkeypatch):
    """r5 VERDICT next-7: len(queries()) and the per-round first-50 window
    are pinned so an insertion can't silently displace driver-oracle rows
    (the r4 failure mode). Both rotation halves must alternate with round
    parity and partition the pool exactly."""
    import importlib

    import iresearch_spark.plans.registry as R

    assert len(R.CORE_ENTRIES) == 37
    assert len(R.ROTATION_POOL_A) == len(R.ROTATION_POOL_B) == 13
    assert not (set(R.ROTATION_POOL_A) & set(R.ROTATION_POOL_B))

    def window(round_no: int) -> list[str]:
        monkeypatch.setenv("IRS_GATE_ROUND", str(round_no))
        reg = R.build_registry()
        assert len(reg) == 63
        assert set(reg) == set(R.CORE_ENTRIES) | set(R.ROTATION_POOL_A) | set(
            R.ROTATION_POOL_B
        )
        return list(reg)[:50]

    w6, w7 = window(6), window(7)
    assert w6 == list(R.CORE_ENTRIES) + list(R.ROTATION_POOL_B)
    assert w7 == list(R.CORE_ENTRIES) + list(R.ROTATION_POOL_A)
    # every entry appears in the window at least every other round
    assert set(w6) | set(w7) == set(R.build_registry())
    monkeypatch.delenv("IRS_GATE_ROUND")
    importlib.reload(R)  # restore module-level REGISTRY for other tests


def test_build_sliced_one_pass_staging(spark, tmp_path_factory, monkeypatch):
    """r5 VERDICT next-3: build_sliced must not scan the source K times.
    With staging on (default), the source is read ONCE into a
    slice-partitioned intermediate and every per-slice build reads ONLY its
    own partition directory (partition-pruned), then the stage is cleaned
    up after the last commit."""
    import iresearch_spark.index.segments as segmod

    corpus = generate_corpus(spark, 200, seed=61).persist()
    st = IndexStore(str(tmp_path_factory.mktemp("stage6")))
    real_build = segmod.build_segment
    seen_plans: list[str] = []

    def recording(spark_, store_, docs_, name, **kw):
        seen_plans.append(docs_._jdf.queryExecution().executedPlan().toString())
        return real_build(spark_, store_, docs_, name, **kw)

    monkeypatch.setattr(segmod, "build_segment", recording)
    segmod.build_sliced(spark, st, corpus, 3, prefix="sl")
    corpus.unpersist()
    assert len(seen_plans) == 3
    for i, plan in enumerate(seen_plans):
        flat = plan.replace(" ", "")
        assert "_stage_sl" in plan, plan[:500]
        # the slice filter lands in PartitionFilters (directory pruning),
        # never a post-scan row filter
        assert "PartitionFilters" in plan and f"={i})" in flat, (i, plan[:1500])
    # stage removed after the last slice committed
    import os

    assert not os.path.exists(os.path.join(st.root, "_stage_sl"))
    # spec recorded; mismatched re-invocation must raise, matching resumes
    assert os.path.exists(os.path.join(st.root, "slicespec-sl.json"))
    with pytest.raises(ValueError, match="slice spec mismatch"):
        segmod.build_sliced(spark, st, corpus, 5, prefix="sl")
    with pytest.raises(ValueError, match="slice spec mismatch"):
        segmod.build_sliced(spark, st, corpus, 3, prefix="sl", key_cols=["repo"])
    metas = segmod.build_sliced(spark, st, corpus, 3, prefix="sl")
    assert [m.name for m in metas] == [f"sl{i:05d}" for i in range(3)]


def test_nearest_labels_zero_norm_guard(spark):
    """Zero-norm embeddings/centroids yield NULL cosine (not NaN) so they
    rank LAST under the desc window — matching the SQL oracle's
    div-by-zero null (r5 ADVICE)."""
    from iresearch_spark.functions.similarity import nearest_labels

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    labs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "label long, embedding array<double>"
    )
    rows = {
        (r["id"], r["label"]): (r["cosine"], r["rank"])
        for r in nearest_labels(emb, labs, k=2).collect()
    }
    assert rows[(1, 10)][0] == pytest.approx(1.0) and rows[(1, 10)][1] == 1
    assert rows[(1, 11)][0] is None and rows[(1, 11)][1] == 2  # null ranks last
    assert rows[(2, 10)][0] is None and rows[(2, 11)][0] is None


def test_segmentation_cjk_modes(spark):
    """r5 VERDICT next-6: the CJK word-break gap is now an explicit,
    tested option. Default "keep" pins the documented ICU divergence (the
    run stays whole); "unigram" breaks per codepoint; "dict" greedy
    longest-match with unigram fallback."""
    from iresearch_spark.analysis.analyzers import SegmentationAnalyzer

    text = "Spark 中文分词 test"
    df = spark.createDataFrame([(text,)], "t string")

    def toks(an):
        return df.select(an.tokens(F.col("t")).alias("x")).collect()[0]["x"]

    # pinned divergence example (ICU with its dictionary would yield
    # 中文 / 分词): the default keeps the run whole
    assert toks(SegmentationAnalyzer()) == ["spark", "中文分词", "test"]
    assert toks(SegmentationAnalyzer(cjk="unigram")) == [
        "spark", "中", "文", "分", "词", "test",
    ]
    assert toks(
        SegmentationAnalyzer(cjk="dict", dictionary=("中文", "分词"))
    ) == ["spark", "中文", "分词", "test"]
    # unmatched chars fall back to unigrams; longest match wins
    assert toks(
        SegmentationAnalyzer(cjk="dict", dictionary=("中文", "中文分词"))
    ) == ["spark", "中文分词", "test"]
    # mixed Latin+CJK inside one UAX#29 run splits at the script boundary
    df2 = spark.createDataFrame([("abc中文def",)], "t string")
    an = SegmentationAnalyzer(cjk="dict", dictionary=("中文",))
    assert df2.select(an.tokens(F.col("t")).alias("x")).collect()[0]["x"] == [
        "abc", "中文", "def",
    ]


def test_lev_batch_vs_duckdb():
    """_lev_batch (the r6 driver-local plain-fuzzy expansion DP) must equal
    DuckDB's levenshtein on random strings including empty/long shapes."""
    from iresearch_spark.search.executor import _lev_batch

    con = duckdb.connect()
    rng = random.Random(66)
    alpha = "abcde"
    for q in ["batch", "", "ab", "abcdeabcde"]:
        cands = [
            "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
            for _ in range(200)
        ] + ["batch", "bathc", "", q]
        got = _lev_batch(cands, q, target_bytes=1)  # force tiny chunks too
        for c, g in zip(cands, got):
            exp = con.execute("SELECT levenshtein(?, ?)", [c, q]).fetchone()[0]
            assert g == exp, (c, q, g, exp)


def test_damerau_batch_chunk_bounded():
    """Chunk size derives from the DP area (r5 ADVICE): long strings give
    small chunks, results unchanged."""
    from iresearch_spark.search.executor import _damerau, _damerau_batch

    rng = random.Random(6)
    long_cands = [
        "".join(rng.choice("abcdef") for _ in range(30)) for _ in range(50)
    ]
    q = "abcdefabcdefabcdefabcdefabcdef"
    got = _damerau_batch(long_cands, q, target_bytes=100_000)
    for c, g in zip(long_cands, got):
        assert g == _damerau(c, q)


# --------------------------------------------------------------------------
# r6: batched multi-query execution + near-dup clustering
# --------------------------------------------------------------------------


def test_connected_components(spark):
    """Hash-min label propagation: chains (diameter > 1), merged
    components, isolated vertices, and convergence detection."""
    from iresearch_spark.functions.dedup import connected_components

    # 1-2-3-4 chain, {6,7} pair, 5 isolated, plus a bridge 4-6 making
    # {1..4,6,7} one component
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (6, 7), (4, 6)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 1, 7: 1}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, verts, max_iter=1)


def test_neardup_clusters_duck_parity(spark):
    """Rotation-pool twin for the `neardup_clusters` gate entry (LSH pairs
    -> exact verify -> connected components) vs the recursive-CTE DuckDB
    oracle at the driver's sf."""
    import os

    from iresearch_spark.plans.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")
    ent = REGISTRY["neardup_clusters"]
    got = [tuple(r) for r in ent["fn"](spark, sf).collect()]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        exp = [tuple(r) for r in con.execute(ent["duck"]).fetchall()]
    finally:
        con.close()
    assert got == exp
    # sanity: the fixture corpus actually contains multi-doc clusters
    assert any(r[2] > 1 for r in got)


def test_batch_topk4_duck_parity(spark):
    """Rotation-pool twin for the `batch_topk4` gate entry: the batched
    shared-scan path vs each query's individual oracle UNION ALL'd."""
    import os

    from iresearch_spark.plans.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")
    ent = REGISTRY["batch_topk4"]
    got = sorted(
        (r["query"], r["doc_id"], round(r["score"], 6))
        for r in ent["fn"](spark, sf).collect()
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        exp = sorted(
            (q, d, round(s, 6)) for q, d, s in con.execute(ent["duck"]).fetchall()
        )
    finally:
        con.close()
    assert got == exp


def test_topk_batch_matches_individual(spark, store800):
    """topk_batch must reproduce topk(node, k) row-for-row for every query
    in the batch — across term/boolean/min-match/multiterm/fuzzy and
    phrase shapes on the shared-scan path, with an absent-term query
    contributing zero rows, at both execution sites (driver-local and
    Spark)."""
    from iresearch_spark.search import And, Or, Phrase, Term, Terms

    batch = {
        "term": Term("def"),
        "and2": And((Term("def"), Term("return"))),
        "or_kmax": Or((Term("def"), Term("return")), merge="max"),
        "or_kmin": Or((Term("def"), Term("return")), merge="min"),
        "mm2of3": Or((Term("def"), Term("return"), Term("import")), min_match=2),
        "terms_boost": Terms(("def", "return"), boosts=(2.0, 0.5)),
        "prefix": Prefix("s", scored_terms_limit=3),
        "wild": Wildcard("*a*n", scored_terms_limit=2),
        "fuzzy": Fuzzy("batch", distance=1, max_terms=1000),
        "phrase": Phrase(("key", "order")),
        "absent": Term("zzz_not_a_term"),
    }
    eng = SearchEngine(spark, store800)
    eng.prepare_dictionary()
    # both execution sites, on both sides: a huge budget runs the batch and
    # every per-query topk on the driver, a zero budget runs them on Spark
    for budget in (10**12, 0):
        eng.LOCAL_MAX_POSTINGS = budget
        got = sorted(
            (r["query"], r["gdoc"], round(r["score"], 5))
            for r in eng.topk_batch(batch, 10).collect()
        )
        assert eng.last_run["path"] == ("local" if budget else "spark")
        exp = []
        for name, node in batch.items():
            exp += [
                (name, r["gdoc"], round(r["score"], 5))
                for r in eng.topk(node, 10).collect()
            ]
        assert got == sorted(exp)
        assert not any(q == "absent" for q, _, _ in got)


# --------------------------------------------------------------------------
# r6: every rotation-pool entry gets an automatic pytest oracle twin, so
# the half that is OUT of the driver window this round is still verified
# every run (and future pool additions are twinned by construction).
# --------------------------------------------------------------------------

from iresearch_spark.plans.registry import ROTATION_POOL_A, ROTATION_POOL_B


def _gate_compare(spark_rows, duck_rows, cols):
    """scripts/gate_check.compare semantics: row count + 9dp-rounded
    values, order-insensitive."""
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} != {len(duck_rows)}"

    def norm(rows):
        out = []
        for r in rows:
            out.append(
                tuple(
                    r[c] if not isinstance(r[c], float) else round(r[c], 9)
                    for c in cols
                )
            )
        return sorted(out, key=lambda t: tuple(str(x) for x in t))

    for i, (x, y) in enumerate(zip(norm(spark_rows), norm(duck_rows))):
        if x != y:
            return f"mismatch at sorted row {i}: spark={x} duck={y}"
    return None


@pytest.mark.parametrize("name", list(ROTATION_POOL_A + ROTATION_POOL_B))
def test_rotation_pool_twin(spark, name):
    import os

    from iresearch_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    ent = REGISTRY[name]
    df = ent["fn"](spark, sf)
    got = df.collect()
    cols = df.columns
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "events"):
            p = f"{sf}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        duck = con.execute(ent["duck"]).fetchall()
        dcols = [d[0] for d in con.description]
    finally:
        con.close()
    assert cols == dcols, (cols, dcols)
    spark_rows = [{c: r[c] for c in cols} for r in got]
    duck_rows = [dict(zip(dcols, r)) for r in duck]
    err = _gate_compare(spark_rows, duck_rows, cols)
    assert err is None, f"{name}: {err}"


# --------------------------------------------------------------------------
# r6: multi-field search (by_term{field, term} parity)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mf_stores(spark, tmp_path_factory):
    from iresearch_spark.search.multifield import build_multifield

    corpus = generate_corpus(spark, 400, seed=6)
    # second field: a small categorical label column (like doc 'source')
    docs = corpus.withColumn(
        "label",
        F.concat(F.lit("lab"), F.pmod(F.xxhash64("path"), F.lit(5)).cast("string")),
    )
    return build_multifield(
        spark,
        str(tmp_path_factory.mktemp("mf6")),
        docs,
        ["content", "label"],
        key_cols=["repo", "path", "commit"],
    )


def test_multifield_cross_field_booleans(spark, mf_stores):
    """Cross-field And/Or/min_match/Not combine per-field scored hits with
    the single-field general-evaluator semantics: expectation computed by
    joining the two per-field engines' hit sets driver-side."""
    from iresearch_spark.search import And, Not, Or, SearchEngine, Term
    from iresearch_spark.search.multifield import Fielded, MultiFieldEngine

    eng = MultiFieldEngine(spark, mf_stores)
    e_c = SearchEngine(spark, mf_stores["content"])
    e_l = SearchEngine(spark, mf_stores["label"])
    hits_c = {r["gdoc"]: r["score"] for r in e_c.execute(Term("return")).collect()}
    hits_l = {r["gdoc"]: r["score"] for r in e_l.execute(Term("lab1")).collect()}
    assert hits_c and hits_l

    node_and = And((Fielded("content", Term("return")), Fielded("label", Term("lab1"))))
    got = {r["gdoc"]: r["score"] for r in eng.execute(node_and).collect()}
    exp = {
        g: float(np.float32(hits_c[g] + hits_l[g]))
        for g in set(hits_c) & set(hits_l)
    }
    assert got == exp and got

    node_or = Or((Fielded("content", Term("return")), Fielded("label", Term("lab1"))))
    got = {r["gdoc"]: r["score"] for r in eng.execute(node_or).collect()}
    exp = {
        g: float(np.float32(hits_c.get(g, 0.0) + hits_l.get(g, 0.0)))
        for g in set(hits_c) | set(hits_l)
    }
    assert got == exp

    # kMax merge across fields
    node_max = Or(
        (Fielded("content", Term("return")), Fielded("label", Term("lab1"))),
        merge="max",
    )
    got = {r["gdoc"]: r["score"] for r in eng.execute(node_max).collect()}
    exp = {
        g: float(np.float32(max(hits_c.get(g, -np.inf), hits_l.get(g, -np.inf))))
        for g in set(hits_c) | set(hits_l)
    }
    assert got == exp

    # exclusion: content hits NOT in label lab1
    node_not = And((Fielded("content", Term("return")), Not(child=Fielded("label", Term("lab1")))))
    got = {r["gdoc"]: r["score"] for r in eng.execute(node_not).collect()}
    exp = {g: float(np.float32(s)) for g, s in hits_c.items() if g not in hits_l}
    assert got == exp

    # top-k ordering parity (score desc, gdoc asc)
    top = [(r["gdoc"], r["score"]) for r in eng.topk(node_or, 5).collect()]
    ordered = sorted(
        (
            (g, float(np.float32(hits_c.get(g, 0.0) + hits_l.get(g, 0.0))))
            for g in set(hits_c) | set(hits_l)
        ),
        key=lambda p: (-p[1], p[0]),
    )[:5]
    assert top == ordered


def test_multifield_per_field_stats(spark, mf_stores):
    """Each field's leg must score against ITS OWN stats: the label
    field's avgdl/doc_freq differ from content's, so a label-leg score
    equals BM25 computed from the label engine's FieldStats."""
    from iresearch_spark.search import SearchEngine, Term

    e_l = SearchEngine(spark, mf_stores["label"])
    assert e_l.field.avg_dl == pytest.approx(1.0)  # one token per doc
    n = e_l.field.docs_count
    dfreq = e_l._stats_for(["lab1"])["lab1"]
    idf = np.float32(np.log1p((n - dfreq + 0.5) / (dfreq + 0.5)))
    # tf=1, dl=1=avgdl -> score = idf * (k1+1) / (k1*(1-b+b) + 1) = idf
    got = {r["gdoc"]: r["score"] for r in e_l.execute(Term("lab1")).collect()}
    assert got and all(s == pytest.approx(float(idf), rel=1e-6) for s in got.values())


def test_topk_batch_respects_tombstones(spark, store800, tmp_path_factory):
    """The batch kernel inlines the same tombstone mask as the per-query
    kernel: after live deletes, topk_batch == per-query topk, and no
    deleted gdoc surfaces."""
    import shutil

    from iresearch_spark.search import And, Or, Term

    root = str(tmp_path_factory.mktemp("bdel") / "idx")
    shutil.copytree(store800.root, root)
    st = IndexStore(root)
    eng0 = SearchEngine(spark, st)
    victims = (
        eng0.doc_universe()
        .where(F.col("gdoc") % 3 == 0)
        .select(F.lit("s0").alias("segment"), F.col("gdoc").alias("doc_id"))
    )
    st.remove(spark, victims)
    eng = SearchEngine(spark, st)
    eng.prepare_dictionary()
    batch = {
        "t": Term("def"),
        "and": And((Term("def"), Term("return"))),
        "or": Or((Term("def"), Term("return"), Term("import")), min_match=2),
        "pre": Prefix("v1", scored_terms_limit=3),
    }
    got = sorted(
        (r["query"], r["gdoc"], round(r["score"], 5))
        for r in eng.topk_batch(batch, 10).collect()
    )
    assert got and not any(g % 3 == 0 for _, g, _ in got)
    exp = sorted(
        (name, r["gdoc"], round(r["score"], 5))
        for name, node in batch.items()
        for r in eng.topk(node, 10).collect()
    )
    assert got == exp


def test_zero_scored_head_distributed_tail(spark, store800):
    """scored_terms_limit=0 with the vocab cache OFF: the scored head is
    empty but the distributed tail must still reach the scan — every
    matched doc surfaces at score 0, identical to the vocab-cached engine
    (r6 review: `if not scorers` returned Empty before consulting the
    tail)."""
    ref = SearchEngine(spark, store800)
    ref.prepare_dictionary()
    eng = _novocab(spark, store800)
    node = Prefix("v1", scored_terms_limit=0)
    exp = sorted((r["gdoc"], r["score"]) for r in ref.execute(node).collect())
    got = sorted((r["gdoc"], r["score"]) for r in eng.execute(node).collect())
    assert exp and got == exp and all(s == 0.0 for _, s in exp)
    kexp = [(r["gdoc"], r["score"]) for r in ref.topk(node, 5).collect()]
    kgot = [(r["gdoc"], r["score"]) for r in eng.topk(node, 5).collect()]
    assert kgot == kexp and len(kgot) == 5


def test_topk_non_inline_tombstones(spark, store800, tmp_path_factory):
    """When the tombstone set exceeds MAX_INLINE_TOMBSTONES the kernel
    cannot see deletes, so its per-partition top-k pools MUST be disabled
    (k=None) — otherwise deleted docs crowd live ones out of the pools and
    the post-kernel anti-join leaves fewer than k live hits (r6 review).
    Pinned by forcing the non-inline regime and requiring identity with
    the inline engine across plain/batch paths."""
    import shutil

    from iresearch_spark.search import And, Or, Term

    root = str(tmp_path_factory.mktemp("noninl") / "idx")
    shutil.copytree(store800.root, root)
    st = IndexStore(root)
    eng0 = SearchEngine(spark, st)
    # delete aggressively so pool-crowding would be visible at k=10
    victims = (
        eng0.doc_universe()
        .where(F.col("gdoc") % 3 != 0)
        .select(F.lit("s0").alias("segment"), F.col("gdoc").alias("doc_id"))
    )
    st.remove(spark, victims)

    inline = SearchEngine(spark, st)
    assert inline._deleted_inline
    noninl = SearchEngine(spark, st)
    # force the >MAX_INLINE_TOMBSTONES (100-TB) regime on the same mask
    noninl._deleted_inline = False
    noninl._tomb_gdocs = spark.createDataFrame(
        [(int(g),) for g in noninl._deleted_arr], "gdoc long"
    )
    noninl._deleted_arr = None

    batch = {
        "t": Term("def"),
        "and": And((Term("def"), Term("return"))),
        "or": Or((Term("def"), Term("import"))),
    }
    for name, node in batch.items():
        exp = [(r["gdoc"], r["score"]) for r in inline.topk(node, 10).collect()]
        got = [(r["gdoc"], r["score"]) for r in noninl.topk(node, 10).collect()]
        assert got == exp and len(exp) == 10, (name, got, exp)
    gotb = sorted(
        (r["query"], r["gdoc"], round(r["score"], 5))
        for r in noninl.topk_batch(batch, 10).collect()
    )
    expb = sorted(
        (r["query"], r["gdoc"], round(r["score"], 5))
        for r in inline.topk_batch(batch, 10).collect()
    )
    assert gotb == expb and len(gotb) == 30
