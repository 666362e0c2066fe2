"""Round-7 (optimization round) pins.

Every optimization this round must leave declared-query RESULTS identical;
these tests pin the bit-exactness claims at the operator level:

- functions/hashing.py numpy XXH64 == Spark's `xxhash64` expression on
  every code path the sketches use (string with int-literal seed chain,
  long pairs, aggregate fold) — property-tested against Spark itself;
- the rewritten single-pass simhash / minhash kernels == the retained
  `_expr` twins (the pre-r7 Catalyst pipelines) row-for-row on the gate
  testdata plus adversarial edge docs;
- the rewritten hyperplane-LSH bucket kernel == the pre-r7 Catalyst
  expression (sequential float64 summation order is preserved, so sign
  bits cannot differ);
- embedding_neardup_pairs == a reference implementation using the pre-r7
  Catalyst cosine verify, pair set AND float64 cosine values.
"""

from __future__ import annotations

import random
import string

import numpy as np
import pytest
from pyspark.sql import functions as F

from iresearch_spark.functions.dedup import (
    _minhash_signatures_expr,
    _simhash_expr,
    minhash_signatures,
    simhash,
)
from iresearch_spark.functions.hashing import (
    xxhash64_bytes,
    xxhash64_int,
    xxhash64_long,
    xxhash64_long_pair,
)

EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "   \t\n"),
    (4, "one"),
    (5, "two tokens"),
    (6, "three whole tokens here"),
    (7, "exactly five tokens right here now"[:34]),
    (8, "a b c d e"),
    (9, "a a a a a a a a"),
    (10, "MIXED Case_Tokens with-Punct!and;semis"),
    (11, "x" * 500),
    (12, " ".join(f"tok{i}" for i in range(300))),
    (13, "unicode naïve café 東京 berlin"),
    (14, "1234 5678 _under_score_ 90ab"),
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


# --------------------------------------------------------------- hashing


def test_xxhash64_string_paths_vs_spark(spark):
    rng = random.Random(7)
    toks = ["", "a", "x" * 7, "y" * 8, "hello_world", "z" * 31, "w" * 32,
            "v" * 33, "q" * 64, "r" * 100, "naïve", "東京テスト", "mixed_токен"]
    toks += [
        "".join(rng.choices(string.ascii_lowercase + string.digits + "_",
                            k=rng.randrange(1, 45)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    # chained int-literal seed (the sketch operators' form)
    exp = [r[0] for r in df.select(F.xxhash64(F.lit(42), F.col("t"))).collect()]
    seed1 = xxhash64_int(np.array([42]), 42).astype(np.uint64)[0]
    assert list(xxhash64_bytes(toks, seed1)) == exp
    # plain default-seed string hash
    exp2 = [r[0] for r in df.select(F.xxhash64(F.col("t"))).collect()]
    assert list(xxhash64_bytes(toks, 42)) == exp2
    # chained string pair (the lineage row hash): the seed array is
    # aligned with the input, across differently sized length groups
    keys = toks[::-1]
    kdf = spark.createDataFrame(list(zip(keys, toks)), "k string, t string")
    exp3 = [r[0] for r in kdf.select(F.xxhash64("k", "t")).collect()]
    assert list(xxhash64_bytes(toks, xxhash64_bytes(keys, 42))) == exp3


def test_xxhash64_long_paths_vs_spark(spark):
    rng = random.Random(8)
    la = np.array([rng.randrange(-(2**63), 2**63) for _ in range(200)], dtype=np.int64)
    lb = np.array([rng.randrange(-(2**63), 2**63) for _ in range(200)], dtype=np.int64)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(la, lb)], "a long, b long"
    )
    assert list(xxhash64_long(la, 42)) == [
        r[0] for r in df.select(F.xxhash64("a")).collect()
    ]
    assert list(xxhash64_long_pair(la, lb)) == [
        r[0] for r in df.select(F.xxhash64("a", "b")).collect()
    ]
    # the aggregate fold used by the whole-doc minhash gram
    arrs = [
        [rng.randrange(-(2**60), 2**60) for _ in range(rng.randrange(0, 6))]
        for _ in range(40)
    ]
    adf = spark.createDataFrame([(a,) for a in arrs], "arr array<long>")
    exp = [
        r[0]
        for r in adf.select(
            F.aggregate("arr", F.lit(42).cast("long"), lambda a, x: F.xxhash64(a, x))
        ).collect()
    ]
    got = []
    for a in arrs:
        acc = np.int64(42)
        for x in a:
            acc = xxhash64_long_pair(
                np.array([acc]), np.array([x], dtype=np.int64)
            )[0]
        got.append(int(acc))
    assert got == exp


# --------------------------------------------------------------- sketches


def _rows(df, key):
    return sorted((tuple(r) for r in df.collect()), key=lambda t: t[: key])


@pytest.mark.parametrize("hash_fn,bits", [("xxhash64", 64), ("md5_32", 32)])
def test_simhash_fast_equals_expr(spark, docs, edge_df, hash_fn, bits):
    for d in (docs, edge_df):
        fast = {r["id"]: r["simhash"] for r in simhash(d, bits=bits, hash_fn=hash_fn).collect()}
        ref = {r["id"]: r["simhash"] for r in _simhash_expr(d, bits=bits, hash_fn=hash_fn).collect()}
        assert fast == ref


@pytest.mark.parametrize("shingle", [2, 5])
def test_minhash_fast_equals_expr(spark, docs, edge_df, shingle):
    for d in (docs, edge_df):
        fast = {
            r["id"]: tuple(r["signature"])
            for r in minhash_signatures(d, shingle=shingle).collect()
        }
        ref = {
            r["id"]: tuple(r["signature"])
            for r in _minhash_signatures_expr(d, shingle=shingle).collect()
        }
        assert fast == ref


# ------------------------------------------------------- embedding kernels


def _dot_lit_ref(vec_col, q):
    ql = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(
            F.transform(vec_col, lambda v: v.cast("double")),
            ql,
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def test_hyperplane_buckets_bit_identical(spark, sf_dir):
    from iresearch_spark.functions.similarity import _planes, hyperplane_lsh_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.limit(1).collect()[0]["embedding"])
    # pre-r7 Catalyst formulation, reproduced verbatim
    planes = _planes(dim, 12, 42)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = (_dot_lit_ref(F.col("embedding"), p) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    ref = {r["vec_id"]: r["bucket"] for r in emb.withColumn("bucket", bucket).collect()}
    got = {
        r["vec_id"]: r["bucket"]
        for r in hyperplane_lsh_buckets(emb, dim, 12, 42).collect()
    }
    assert got == ref


def test_embedding_neardup_pairs_identical(spark, sf_dir):
    from iresearch_spark.functions.similarity import (
        _f64,
        _norm,
        embedding_neardup_pairs,
        hyperplane_lsh_buckets,
        release_cached,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.limit(1).collect()[0]["embedding"])
    aug = emb.select("vec_id", "embedding").unionAll(
        emb.where("vec_id < 40").select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    out = embedding_neardup_pairs(aug, dim, threshold=0.999, n_planes=8, multiprobe_bits=1)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    release_cached(out)

    # pre-r7 reference: Catalyst bucket + candidate join + Catalyst cosine
    bucketed = hyperplane_lsh_buckets(aug, dim, 8, 42).select(
        F.col("vec_id").alias("id"), "embedding", "bucket"
    )
    probes = [0] + [1 << i for i in range(8)]
    a = bucketed.select(
        F.col("id").alias("id_a"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probes])
        ).alias("bucket"),
    )
    b = bucketed.select(F.col("id").alias("id_b"), "bucket")
    cands = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    withv = cands.join(
        bucketed.select(F.col("id").alias("id_a"), F.col("embedding").alias("_va")),
        "id_a",
    ).join(
        bucketed.select(F.col("id").alias("id_b"), F.col("embedding").alias("_vb")),
        "id_b",
    )
    dot = F.aggregate(
        F.zip_with(_f64(F.col("_va")), _f64(F.col("_vb")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    ref_df = (
        withv.withColumn("cosine", cos)
        .where(F.col("cosine") >= 0.999)
        .select("id_a", "id_b", "cosine")
    )
    ref = {(r["id_a"], r["id_b"]): r["cosine"] for r in ref_df.collect()}
    assert got == ref  # pair set AND exact float64 cosines


# ------------------------------------------------- tombstone mask tiers


def test_tombstone_broadcast_tier_keeps_pooling(spark, sf_dir, tmp_path, monkeypatch):
    """r6 VERDICT next-1: when tombstones exceed MAX_INLINE_TOMBSTONES the
    mask must ride a Spark broadcast INTO the kernels (pooling + WAND stay
    on) instead of disabling kernel top-k and anti-joining afterwards.
    Pins: (a) all three tiers (closure array / broadcast / anti-join
    fallback) return identical results for term, boolean, min-match and
    batched queries; (b) the broadcast tier reports the kernel-visible
    mask (pooling and pruning stay enabled); (c) a direct kernel run with
    a Broadcast mask prunes blocks and pools to k with results equal to
    the exhaustive kernel."""
    import iresearch_spark.search.executor as X
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import Or, SearchEngine, Term

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store = IndexStore(str(tmp_path / "ix"))
    build_segment(spark, store, docs, "s0", text_col="text", doc_id_col="doc_id")
    victims = docs.where("doc_id % 7 = 0").select(
        F.lit("s0").alias("segment"), F.col("doc_id")
    )
    store.remove(spark, victims)

    stats = SearchEngine(spark, store).term_stats.orderBy(
        F.desc("doc_freq"), F.asc("term")
    ).limit(3).collect()
    hi, med = stats[0]["term"], stats[1]["term"]
    queries = {
        "t": Term(hi),
        "or": Or((Term(hi), Term(med))),
        "mm": Or((Term(hi), Term(med), Term(stats[2]["term"])), min_match=2),
    }

    def run_all(eng):
        out = {n: [tuple(r) for r in eng.topk(q, 10).collect()] for n, q in queries.items()}
        out["batch"] = [
            tuple(r) for r in eng.topk_batch(queries, 10).collect()
        ]
        return out

    eng_arr = SearchEngine(spark, store)
    assert eng_arr._deleted_arr is not None and eng_arr._deleted_inline
    ref = run_all(eng_arr)

    monkeypatch.setattr(X, "MAX_INLINE_TOMBSTONES", 0)
    eng_bc = SearchEngine(spark, store)
    assert eng_bc._deleted_bcast is not None and eng_bc._deleted_inline
    assert eng_bc._kernel_deleted is eng_bc._deleted_bcast  # kernels see it
    assert run_all(eng_bc) == ref

    monkeypatch.setattr(X, "MAX_BCAST_TOMBSTONES", 0)
    eng_aj = SearchEngine(spark, store)
    assert not eng_aj._deleted_inline  # anti-join fallback tier
    assert run_all(eng_aj) == ref

    # (c) kernel granularity: Broadcast mask + pruning + pooling active
    blocks = (
        eng_arr.postings.where(F.col("term") == hi)
        .select(*eng_arr.SCAN_COLS)
        .toPandas()
    )
    dfreq = stats[0]["doc_freq"]
    sc = eng_arr.scorer.prepare(eng_arr.field, dfreq, 1.0)
    bc = spark.sparkContext.broadcast(eng_arr._deleted_arr)
    results = {}
    for prune in (True, False):
        counters = {}
        kern = X._topk_sums_kernel(
            {hi: sc}, {hi: 0.0}, eng_arr.seg_base, k=10, min_match=1,
            const_add=0.0, merge="sum", mode=eng_arr.final_mode,
            deleted=bc, grouped=False, prune=prune, counters=counters,
        )
        frames = list(kern(iter([blocks])))
        rows = sorted(
            map(tuple, frames[0][["gdoc", "score"]].to_numpy().tolist())
        ) if frames else []
        results[prune] = rows
        assert counters.get("blocks", 0) > 0
        if frames:
            assert len(frames[0]) <= 10  # pool bounded emission to k
    assert results[True] == results[False]
    # no masked doc survives
    dels = set(eng_arr._deleted_arr.tolist())
    assert all(g not in dels for g, _ in results[True])
