"""Deduplication operators for large-scale corpus pipelines.

Four tiers, all DataFrame-native:
- exact:        hash-groupBy on content (or any column set)
- MinHash-LSH:  shingle -> per-seed min-hash signature -> banded bucket
                join -> candidate pairs (the scalable near-dup path; the
                reference ships a minhash analyzer for the same purpose,
                core/analysis/minhash_token_stream.cpp)
- SimHash:      64-bit sign-of-weighted-sum fingerprint + hamming buckets
- n-gram Jaccard: exact quadratic verification (oracle tier, also the
                verifier for LSH candidates)

MinHash math: h_i(x) = (a_i * xxhash64(x) + b_i) mod p, p = 2^31 - 1
(int64-safe mod-mul: a,h < 2^31 keeps a*h + b < 2^63 with no overflow
tricks under ANSI mode; the tradeoff vs a 61-bit prime is a ~2^-31
per-hash collision rate, i.e. ~0.003% expected spurious agreements per
64-hash signature — negligible next to LSH's own false-positive band
collisions, but worth knowing at billion-doc scale). a_i/b_i derived
deterministically from the seed — permutation-free min-wise hashing.
All column expressions; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps a*h + b inside int64 (a,h < 2^31 ->
# a*h < 2^62), so the mod-mul needs no overflow tricks under ANSI mode.
MERSENNE_P = (1 << 31) - 1


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str = "doc_id", max_ids: int = 1000
) -> DataFrame:
    """Duplicate groups by exact value: (group columns hash, keep_doc =
    min id, n_copies, sample_ids).

    Scale shape (r3; the r2 rank-window serialized each whole group — a
    million-copy boilerplate group is one task): counts come from a plain
    hash aggregate (map-side partial, exact), and sample_ids (the
    `max_ids` smallest ids) from a per-partition bounded pre-truncation —
    sortWithinPartitions(key, id) + keep the first max_ids per key per
    partition — then a final sorted-slice agg whose buffer is bounded by
    max_ids * num_partitions, never by group size."""
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    key = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256)
    keyed = df.select(key.alias("_k"), F.col(id_col).cast("long").alias("_id"))
    agg = (
        keyed.groupBy(F.col("_k").alias("key_sha256"))
        .agg(F.min("_id").alias("keep_doc"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )

    def head_per_key(batches):
        # vectorized run-length head: rows arrive sorted by (_k, _id); each
        # row's rank within its key run = index - start-of-run (runs can
        # span Arrow batches — carry (key, seen-count) across). No per-row
        # Python (r3 VERDICT wrong-4/next-6).
        carry_key, carry_seen = None, 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ks = pdf["_k"].to_numpy()
            new_run = np.empty(n, dtype=bool)
            new_run[0] = ks[0] != carry_key
            new_run[1:] = ks[1:] != ks[:-1]
            idx = np.arange(n)
            last_start = np.maximum.accumulate(np.where(new_run, idx, -1))
            rank = np.where(last_start >= 0, idx - last_start, carry_seen + idx)
            carry_key, carry_seen = ks[-1], int(rank[-1]) + 1
            keep = rank < max_ids
            if keep.any():
                yield pdf.loc[keep, ["_k", "_id"]]

    tops = keyed.sortWithinPartitions("_k", "_id").mapInPandas(
        head_per_key,
        StructType([StructField("_k", StringType()), StructField("_id", LongType())]),
    )
    samples = tops.groupBy(F.col("_k").alias("key_sha256")).agg(
        F.slice(F.sort_array(F.collect_list("_id")), 1, max_ids).alias("sample_ids")
    )
    return agg.join(samples, "key_sha256").select(
        "key_sha256", "keep_doc", "n_copies", "sample_ids"
    )


def _tokens(text: Column) -> Column:
    """Lowercased [^a-z0-9_]+-delimited tokens — the ONE tokenization every
    dedup operator shares. LSH candidate generation (minhash/simhash) and
    exact verification (n-gram Jaccard) must shingle over IDENTICAL token
    streams or the candidate-recall guarantees silently rot; keep this the
    single definition."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9_]+"), lambda t: t != F.lit(""))


def _shingles(text: Column, n: int, token_shingles: bool) -> Column:
    """Char n-grams or token n-grams of the lowercased text.

    Token n-grams build by zip-with-shifted-self (O(tokens) — the r2
    per-position slice() was O(tokens^2) per doc and dominated minhash
    signature cost on long documents): window j..j+n-1 = token j
    concatenated with each of the n-1 shifted arrays; windows running off
    the end pick up a NULL and concat() nulls them out."""
    if token_shingles:
        toks = _tokens(text)
        length = F.size(toks)
        grams = toks
        for j in range(1, n):
            shifted = F.slice(toks, j + 1, length)
            grams = F.zip_with(grams, shifted, lambda acc, y: F.concat(acc, F.lit(" "), y))
        grams = F.filter(grams, lambda g: g.isNotNull())
        return F.array_distinct(
            F.when(length >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
        )
    low = F.lower(text)
    length = F.length(low)

    def cgram(i):
        return low.substr(i, F.lit(n))

    return F.array_distinct(
        F.when(
            length >= n, F.transform(F.sequence(F.lit(1), length - n + 1), cgram)
        ).otherwise(F.array(low))
    )


_TOKRX = r"[a-z0-9_]+"  # complement of the _tokens delimiter class


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Spread a narrow source over the cluster before a per-row kernel:
    a single-file gate corpus arrives as ONE scan partition, so the whole
    sketch kernel otherwise runs on one core (measured: the entire
    gate_ngram_jaccard cost at driver scale). The repartition shuffles
    only (id, text) rows and is skipped when the scan is already as wide
    as the default parallelism (the corpus-scale case, where adding a
    full-text shuffle would cost more than it buys)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _seed_chain(seed: int):
    """The running hash after Spark's xxhash64 consumed `F.lit(seed)`:
    IntegerType literal -> hashInt path; LongType literal -> hashLong
    (python ints outside int32 become LongType in F.lit)."""
    from iresearch_spark.functions.hashing import xxhash64_int, xxhash64_long

    if -(1 << 31) <= seed < (1 << 31):
        return xxhash64_int(np.array([seed]), 42).astype(np.uint64)[0]
    return xxhash64_long(np.array([seed], dtype=np.int64), 42).astype(np.uint64)[0]


def _tokenize_hash_batch(texts, hash_fn: str, chain_seed):
    """One Arrow batch: lowercase+tokenize (C regex, same token stream as
    `_tokens`) and hash each UNIQUE token once (factorize), bit-exactly
    matching the JVM expression the operators previously evaluated
    per-occurrence. Returns (flat int64 hashes, per-doc lens)."""
    import hashlib
    import re
    from itertools import chain

    from iresearch_spark.functions.hashing import xxhash64_bytes

    tokrx = re.compile(_TOKRX)
    tok_lists = [tokrx.findall(x.lower()) if isinstance(x, str) else [] for x in texts]
    n = len(tok_lists)
    lens = np.fromiter((len(l) for l in tok_lists), np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), lens
    flat = np.fromiter(chain.from_iterable(tok_lists), dtype=object, count=total)
    codes, uniq = pd.factorize(flat)
    if hash_fn == "md5_32":
        uh = np.fromiter(
            (int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in uniq),
            np.int64,
            count=len(uniq),
        )
    else:
        uh = xxhash64_bytes(uniq, chain_seed)
    return uh[codes], lens


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle: int = 5,
    token_shingles: bool = True,
    seed: int = 42,
) -> DataFrame:
    """-> (id, signature array<long>[num_hashes]).

    r7: the token-shingle path runs as ONE mapInPandas kernel — tokenize
    (C regex over the batch), hash unique tokens once (numpy XXH64,
    bit-identical to F.xxhash64 — functions/hashing.py), vectorized gram
    hash-chaining, and the min-wise matrix reduction, all in one Python
    crossing. The previous JVM expression pipeline evaluated xxhash64
    inside interpreted higher-order lambdas per token (~50 us/token);
    signatures for the 204k-doc bench tier measured 24.0 s -> see
    OPTIMIZATION_r07.md. Byte-identical output is pinned by
    tests/test_round7.py against `_minhash_signatures_expr` (the old
    pipeline, kept below as the reference twin and as the char-shingle
    fallback)."""
    import random

    if not token_shingles:
        return _minhash_signatures_expr(
            df, text_col, id_col, num_hashes, shingle, token_shingles, seed
        )
    from iresearch_spark.functions.hashing import xxhash64_long_pair

    rng = random.Random(seed)
    a = np.array([rng.randrange(1, MERSENNE_P) for _ in range(num_hashes)], dtype=np.int64)
    b = np.array([rng.randrange(0, MERSENNE_P) for _ in range(num_hashes)], dtype=np.int64)
    chain_seed = _seed_chain(seed)
    s = shingle

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["_id"].to_numpy()
            # NULL text coalesces to '' (tokenless) — the old path's
            # F.coalesce kept NULL docs' signatures deterministic
            th, lens = _tokenize_hash_batch(pdf["_t"], "xxhash64", chain_seed)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            total = int(bounds[-1])
            # full-window grams: chain xxhash64 over each s-token window
            # (g_i = xxhash64(...xxhash64(th_i, th_i+1)..., th_i+s-1)),
            # computed flat with j-shifted vectorized chaining
            g = th.copy()
            for j in range(1, s):
                if total > j:
                    g[: total - j] = xxhash64_long_pair(g[: total - j], th[j:])
            pos = np.arange(total, dtype=np.int64) - np.repeat(bounds[:-1], lens)
            valid = pos <= (np.repeat(lens, lens) - s)
            grams_long = g[valid]
            # short/tokenless docs: ONE whole-doc gram = the aggregate
            # fold seed -> xxhash64(acc, th_k) (empty docs keep `seed`)
            fb = np.flatnonzero(lens < s)
            acc = np.full(fb.size, seed, dtype=np.int64)
            for step in range(s - 1):
                live = lens[fb] > step
                if not live.any():
                    break
                li = np.flatnonzero(live)
                acc[li] = xxhash64_long_pair(
                    acc[li], th[bounds[fb[li]] + step]
                )
            counts = np.where(lens >= s, lens - s + 1, 1)
            gtotal = int(counts.sum())
            gflat = np.empty(gtotal, dtype=np.int64)
            long_slot = np.repeat(lens >= s, counts)
            gflat[long_slot] = grams_long
            gflat[~long_slot] = acc
            base = gflat % MERSENNE_P  # == Spark pmod for positive divisor
            gb = np.concatenate(([0], np.cumsum(counts)))
            # min-wise reduction, chunked. 16k grams/chunk keeps the
            # (64 x chunk) int64 matrix + temporaries ~8 MB — inside L3
            # instead of streaming 51 MB matrices through the memory bus
            # (measured 2.1x on the kernel at 100k; the bus is this VM's
            # known 32-core ceiling per the r6 calibration). Chunk size
            # cannot affect values (per-doc reduceat over the same math).
            out = np.empty((n, num_hashes), dtype=np.int64)
            chunk = 16_000
            i = 0
            while i < n:
                j = i + 1
                while j < n and gb[j + 1] - gb[i] < chunk:
                    j += 1
                seg = base[gb[i] : gb[j]]
                m = (a[:, None] * seg[None, :] + b[:, None]) % MERSENNE_P
                st = (gb[i:j] - gb[i])
                out[i:j] = np.minimum.reduceat(m, st, axis=1).T
                i = j
            yield pd.DataFrame({"id": ids, "signature": list(out)})

    return _widen_if_narrow(
        df.select(F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_t"))
    ).mapInPandas(fn, "id long, signature array<long>")


def _minhash_signatures_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle: int = 5,
    token_shingles: bool = True,
    seed: int = 42,
) -> DataFrame:
    """-> (id, signature array<long>[num_hashes]).

    Gram hashing runs JVM-side ONCE; the num_hashes min-wise reductions
    run in one Arrow kernel over that hash array. (A pure-Catalyst
    formulation — num_hashes array_min(transform) expressions —
    re-evaluates the shingling+hashing subtree per hash function:
    measured 64x recompute, ~30x slower end-to-end.)

    Token shingles are hashed NUMERICALLY (r6): tokens hash once, then
    each n-window chains xxhash64 over the n token hashes — gram STRINGS
    are never materialized. The string formulation (concat n tokens,
    array_distinct, xxhash the result) measured ~10x the cost of
    tokenization itself at 28M tokens (182 s of a 220 s pipeline);
    allocating + deduping tens of millions of ~30-char JVM strings was
    the entire minhash bottleneck at corpus scale. MinHash only ever
    consumes gram hashes, so the hash-chain is semantically equivalent
    modulo hash family (recall properties are pinned by the LSH gate
    oracles and property tests, which pass unchanged)."""
    import random

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    if token_shingles:
        # NULL text coalesces to '' BEFORE tokenizing: a null token-hash
        # array would flow a null gram into the int64 signature kernel —
        # an undefined NaN->int cast whose value varies across platforms,
        # silently making NULL docs' signatures nondeterministic (the old
        # string path produced a well-defined '' gram)
        toks = _tokens(F.coalesce(F.col(text_col), F.lit("")))
        # token-hash array computed ONCE as a projected column: the gram
        # chain references it n times (zip_with legs), and an inline
        # expression subtree would re-tokenize + re-hash per reference
        df = df.select(
            F.col(id_col).alias(id_col),
            F.transform(toks, lambda t: F.xxhash64(F.lit(seed), t)).alias("_th"),
        )
        th = F.col("_th")
        grams = th
        for j in range(1, shingle):
            # windows running off the end must become NULL (and be
            # filtered) — Spark's xxhash64 SKIPS null inputs rather than
            # propagating, so the null has to be explicit
            grams = F.zip_with(
                grams,
                F.slice(th, j + 1, F.size(th)),
                lambda a, y: F.when(
                    a.isNull() | y.isNull(), F.lit(None).cast("long")
                ).otherwise(F.xxhash64(a, y)),
            )
        grams = F.filter(grams, lambda g: g.isNotNull())
        # short/tokenless docs: one whole-doc gram (hash-chain of all
        # token hashes), mirroring the string path's concat_ws fallback
        whole = F.aggregate(
            th, F.lit(seed).cast("long"), lambda a, x: F.xxhash64(a, x)
        )
        sh = F.array_distinct(
            F.when(F.size(th) >= shingle, grams).otherwise(F.array(whole))
        )
        base = F.transform(sh, lambda x: F.pmod(x, F.lit(MERSENNE_P)))
    else:
        sh = _shingles(F.col(text_col), shingle, token_shingles)
        base = F.transform(
            sh, lambda x: F.pmod(F.xxhash64(F.lit(seed), x), F.lit(MERSENNE_P))
        )
    rng = random.Random(seed)
    a = np.array([rng.randrange(1, MERSENNE_P) for _ in range(num_hashes)], dtype=np.int64)
    b = np.array([rng.randrange(0, MERSENNE_P) for _ in range(num_hashes)], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        """Batch-vectorized min-wise reduction: ONE (num_hashes x grams)
        mod-affine matrix per ~100k-gram chunk with per-doc
        minimum.reduceat — no per-doc Python (int64-safe: a,h < 2^31 ->
        a*h < 2^62)."""
        n = len(hs)
        lens = np.fromiter(
            (len(h) if h is not None else 0 for h in hs), np.int64, count=n
        )
        bounds = np.concatenate(([0], np.cumsum(lens)))
        flat = np.empty(int(bounds[-1]), dtype=np.int64)
        for i, h in enumerate(hs):
            if lens[i]:
                flat[bounds[i] : bounds[i + 1]] = np.asarray(h, dtype=np.int64)
        out = np.full((n, num_hashes), MERSENNE_P, dtype=np.int64)
        chunk = 100_000  # grams per matrix (keeps 64 x chunk ~ 50 MB)
        i = 0
        while i < n:
            j = i + 1
            while j < n and bounds[j + 1] - bounds[i] < chunk:
                j += 1
            seg = flat[bounds[i] : bounds[j]]
            if seg.size:
                m = (a[:, None] * seg[None, :] + b[:, None]) % MERSENNE_P
                # reduceat over NON-empty docs only: empty docs are
                # zero-width (their start == the next doc's start), which
                # reduceat cannot express — they keep the sentinel row
                ne = np.flatnonzero(lens[i:j] > 0)
                st = (bounds[i:j] - bounds[i])[ne]
                red = np.minimum.reduceat(m, st, axis=1)
                out[i + ne] = red.T
            i = j
        return pd.Series(list(out))

    return df.select(F.col(id_col).alias("id"), _sig(base).alias("signature"))


def _bucket_pairs(grouped: DataFrame, max_bucket: int) -> DataFrame:
    """Bucket member-lists -> candidate (id_a, id_b) pairs, id_a < id_b.

    r7 restructure (guide §2.4): the band self-join previously cost FOUR
    shuffles of every band row (bucket-size aggregate, size join-back,
    the self-join's two exchange sides) plus a wide pair dedup. One
    groupBy(bucket).collect_list is ONE shuffle of the same rows; buckets
    with 2..max_bucket members (rare — only near-dup groups) expand to
    pairs in a tiny Arrow kernel. Overfull buckets drop exactly as the
    join-based cap did. `grouped` must have a `_mem` array<long> column."""
    from pyspark.sql.types import LongType, StructField, StructType

    if max_bucket:
        grouped = grouped.where(F.size("_mem") <= max_bucket)
    grouped = grouped.where(F.size("_mem") >= 2)

    def pairgen(batches):
        for pdf in batches:
            outs_a, outs_b = [], []
            for mem in pdf["_mem"]:
                arr = np.sort(np.asarray(mem, dtype=np.int64))
                ia, ib = np.triu_indices(arr.size, k=1)
                outs_a.append(arr[ia])
                outs_b.append(arr[ib])
            if outs_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(outs_a),
                        "id_b": np.concatenate(outs_b),
                    }
                )

    return grouped.select("_mem").mapInPandas(
        pairgen,
        StructType(
            [StructField("id_a", LongType()), StructField("id_b", LongType())]
        ),
    ).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    token_shingles: bool = True,
    threshold: float = 0.6,
    seed: int = 42,
    max_bucket: int = 500,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, filtered by estimated
    Jaccard (signature agreement ratio) >= threshold.

    Scale shape: the band explode produces `bands` rows per doc; the
    bucket self-join only pairs docs sharing a band hash — no quadratic
    blowup. Degenerate buckets (license headers, generated boilerplate
    shared by millions of docs) WOULD go quadratic inside one band_hash,
    so buckets larger than `max_bucket` are dropped: their members are
    exact-or-near-exact dups that exact_dedup() finds for ~free, and a
    doc pair sharing only an overfull bucket almost surely shares another
    (r consecutive equal minhashes imply high Jaccard). Estimated
    Jaccard = fraction of agreeing minhashes.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # persisted for the query's lifetime (the band join + est_jaccard read
    # signatures 3x); the handle rides on the returned DataFrame — callers
    # release via functions.similarity.release_cached() after materializing
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle, token_shingles, seed
    ).persist()
    # band rows carry ONLY (id, band, band_hash): shipping the 64-long
    # signature array through the self-join and the pair-dedup shuffle
    # multiplied shuffle bytes ~16x (r3 fix — signatures re-attach to the
    # deduped pair set, which is orders of magnitude smaller)
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.concat_ws(",", F.slice("signature", b * r + 1, r)), b),
            )
        ).alias("band", "band_hash"),
    )
    # ONE groupBy + kernel pair expansion replaces the four-shuffle
    # size-cap + self-join construction (see _bucket_pairs)
    cands = _bucket_pairs(
        banded.groupBy("band", "band_hash").agg(F.collect_list("id").alias("_mem")),
        max_bucket,
    )
    cands = cands.join(
        sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a")),
        "id_a",
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b")),
        "id_b",
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    out = (
        cands.withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    out._ir_cached_input = sigs  # type: ignore[attr-defined]
    return out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: sign of per-bit sums of token hashes.

    r7: ONE mapInPandas kernel — tokenize (C regex), hash unique tokens
    once per batch (numpy XXH64 bit-identical to F.xxhash64 / md5 via
    hashlib), then an unpackbits bit-count reduction. The previous shape
    evaluated the tokenize+hash expression tree TWICE (the `size(toks)`
    filter pushed below the project re-evaluated the split) inside
    interpreted Catalyst lambdas — the sketch alone measured 49.8 s of
    BigSimhash's 48.5 s (see OPTIMIZATION_r07.md). The unpackbits kernel
    also replaces the (tokens x bits) int64 shift/and matrix (6x less
    memory traffic, measured 348 ms -> 58 ms per 200k tokens). Output is
    byte-identical (pinned by tests/test_round7.py against
    `_simhash_expr`, the old pipeline kept below).

    Result: (id, simhash as bigint); docs with no tokens are dropped
    (a sketch of nothing is noise). hash_fn:
      - "xxhash64": 64-bit xxhash (product default)
      - "md5_32":   low 32 bits of md5(term) — SQL-portable, used by the
                    driver gate so DuckDB can recompute the identical
                    sketch (bits must be <= 32)
    """
    if hash_fn == "md5_32":
        assert bits <= 32
    chain_seed = None if hash_fn == "md5_32" else _seed_chain(seed)
    shifts = np.arange(bits, dtype=np.uint64)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["_id"].to_numpy()
            th, lens = _tokenize_hash_batch(pdf["_t"], hash_fn, chain_seed)
            ne = np.flatnonzero(lens > 0)
            if ne.size == 0:
                continue
            bounds = np.concatenate(([0], np.cumsum(lens)))
            # bit matrix straight off the hash bytes: little-endian byte
            # view + unpackbits(bitorder='little') -> column b == bit b
            bm = np.unpackbits(
                th.astype(np.uint64).view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )[:, :bits]
            ones = np.add.reduceat(bm, bounds[:-1][ne], axis=0, dtype=np.int64)
            # sign of sum of +-1 over tokens == (2 * ones > n_tokens)
            sk = (
                ((2 * ones > lens[ne][:, None]).astype(np.uint64) << shifts)
                .sum(axis=1)
                .astype(np.int64)
            )
            yield pd.DataFrame({"id": ids[ne], "simhash": sk})

    return _widen_if_narrow(
        df.select(F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_t"))
    ).mapInPandas(fn, "id long, simhash long")


def _simhash_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: sign of per-bit sums of token hashes.

    Token hashes are computed JVM-side; the per-bit +-1 accumulation runs
    as a vectorized Arrow kernel over the hash arrays. Result: (id,
    simhash as bigint). hash_fn:
      - "xxhash64": 64-bit xxhash (product default)
      - "md5_32":   low 32 bits of md5(term) — SQL-portable, used by the
                    driver gate so DuckDB can recompute the identical
                    sketch (bits must be <= 32)
    Docs with no tokens are dropped (a sketch of nothing is noise)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    toks = _tokens(F.col(text_col))
    if hash_fn == "md5_32":
        assert bits <= 32
        hashes = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        )
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(F.lit(seed), t))

    @pandas_udf(LongType())
    def _simhash(arrs: pd.Series) -> pd.Series:
        """Batched bit-matrix accumulation (the r3 per-doc loop built an
        (n_tokens x bits) matrix per doc in Python; this builds ONE matrix
        per ~200k-token chunk and reduces per doc with add.reduceat, the
        minhash_signatures pattern — r3 VERDICT wrong-4/next-6)."""
        n = len(arrs)
        lens = np.fromiter(
            (len(a) if a is not None else 0 for a in arrs), np.int64, count=n
        )
        bounds = np.concatenate(([0], np.cumsum(lens)))
        flat = np.empty(int(bounds[-1]), dtype=np.int64)
        for i, a in enumerate(arrs):
            if lens[i]:
                flat[bounds[i] : bounds[i + 1]] = np.asarray(a, dtype=np.int64)
        out = np.zeros(n, dtype=np.int64)  # tokenless docs keep sketch 0
        shifts = np.arange(bits, dtype=np.uint64)
        chunk = 200_000  # tokens per matrix (bits x chunk ~ 100 MB int64 max)
        i = 0
        while i < n:
            j = i + 1
            while j < n and bounds[j + 1] - bounds[i] < chunk:
                j += 1
            seg = flat[bounds[i] : bounds[j]].astype(np.uint64)
            if seg.size:
                signed = 2 * ((seg[:, None] >> shifts) & np.uint64(1)).astype(np.int64) - 1
                # reduceat over NON-empty docs only (empty segments are
                # zero-width; their rows keep the zero sketch)
                ne = np.flatnonzero(lens[i:j] > 0)
                st = (bounds[i:j] - bounds[i])[ne]
                sums = np.add.reduceat(signed, st, axis=0)
                out[i + ne] = ((sums > 0).astype(np.uint64) << shifts).sum(axis=1).astype(
                    np.int64
                )
            i = j
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), _simhash(hashes).alias("simhash")).where(
        F.size(toks) > 0
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    blocks: int = 8,
    max_hamming: int = 3,
    hash_fn: str = "md5_32",
    seed: int = 42,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found via block-
    combination buckets (the Manku/Jain/Sarma web-dedup construction,
    WWW'07 §3: probe tables keyed on bit subsets wide enough that buckets
    stay tiny).

    The sketch splits into `blocks` equal bit-blocks; a pair within
    hamming <= max_hamming differs in at most max_hamming blocks, so it
    agrees on some (blocks - max_hamming)-subset — every such subset is
    probed as ONE COMPOUND key. Versus keying single blocks, compound
    keys are (blocks - max_hamming) x wider, so bucket population drops
    exponentially: single 8-bit bands at 600k docs put ~2.3k docs in
    every bucket (~billions of candidate pairs, the r6 bench-scale
    blowup); 20-bit five-block keys put ~1.

    COMPLETENESS: exhaustive (pigeonhole) whenever no bucket overflows
    `max_bucket`. Overfull buckets — possible only when > max_bucket docs
    agree on 5/8 of the sketch, i.e. boilerplate/near-identical tiers
    that exact_dedup finds for ~free — are dropped, same policy and
    rationale as minhash_lsh_pairs. The driver gate's DuckDB oracle
    computes the identical md5 sketch over ALL pairs; equality also
    proves no gate-scale bucket overflowed."""
    from itertools import combinations

    assert max_hamming < blocks, "pigeonhole completeness needs max_hamming < blocks"
    assert bits % blocks == 0
    width = bits // blocks
    mask = (1 << width) - 1
    keep = blocks - max_hamming
    # persisted: the sketch (the expensive stage — a full tokenize+hash
    # pass) feeds the bucket-size aggregate AND both self-join sides; the
    # handle rides on the returned DataFrame for release_cached(), the
    # minhash_lsh_pairs convention
    sk = simhash(df, text_col, id_col, bits=bits, seed=seed, hash_fn=hash_fn).persist()

    def _block(bi: int):
        return F.shiftright("simhash", bi * width).bitwiseAND(F.lit(mask))

    def _packed(combo: tuple[int, ...]):
        expr = F.lit(0).cast("long")
        for bi in combo:
            expr = F.shiftleft(expr, width).bitwiseOR(_block(bi))
        return expr

    combo_keys = F.array(*[_packed(c) for c in combinations(range(blocks), keep)])
    banded = sk.select(
        "id", F.posexplode(combo_keys).alias("band", "band_val")
    )
    # ONE groupBy + kernel pair expansion replaces the four-shuffle
    # size-cap + self-join construction (see _bucket_pairs); sketches
    # re-attach to the (orders-of-magnitude smaller) deduped pair set —
    # the minhash_lsh_pairs discipline
    cands = _bucket_pairs(
        banded.groupBy("band", "band_val").agg(F.collect_list("id").alias("_mem")),
        max_bucket,
    )
    cands = cands.join(
        sk.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa")), "id_a"
    ).join(
        sk.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb")), "id_b"
    )
    ham = F.bit_count(F.expr("sa ^ sb"))
    out = (
        cands.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out._ir_cached_input = sk  # type: ignore[attr-defined]
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.6,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact token-n-gram Jaccard pairs >= threshold.

    Unrestricted, this is quadratic in docs sharing an n-gram — fine as
    an oracle/verification query, NOT as a product op at corpus scale.
    The scale path passes `candidates` (id_a, id_b — e.g. the output of
    minhash_lsh_pairs): the gram self-join is then replaced by two
    semi-restricted joins against the candidate set, linear in
    |candidates| x doc length."""
    sh = _shingles(F.col(text_col), n, token_shingles=True)
    cand = None
    if candidates is not None:
        # restrict the gram explode to docs that appear in ANY candidate
        # pair BEFORE the distinct/groupBy shuffles: |candidate docs| <<
        # |corpus|, so the verify stage's shuffles shrink accordingly.
        # PERSIST the deduped pair set: it feeds both the doc restriction
        # and the intersection join — without the persist the entire LSH
        # candidate DAG (band self-join + est filter) executes twice
        # (measured ~2x the verify phase at bench scale)
        cand = candidates.select("id_a", "id_b").distinct().persist()
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        df = df.join(cand_ids, id_col, "left_semi")
    grams = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("g")).distinct()
    sizes = grams.groupBy("id").agg(F.count("*").alias("n"))
    if candidates is not None:
        ga = cand.join(grams.withColumnRenamed("id", "id_a"), "id_a")
        inter = (
            ga.join(
                grams.select(F.col("id").alias("id_b"), F.col("g")),
                ["id_b", "g"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("i"))
        )
    else:
        a, b = grams.alias("a"), grams.alias("b")
        inter = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("i"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if cand is not None:
        # cache chain for functions.similarity.release_cached: the pair set
        # persisted here plus whatever the candidate builder persisted
        out._ir_cached_input = [  # type: ignore[attr-defined]
            cand,
            getattr(candidates, "_ir_cached_input", None),
        ]
    return out


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by hash-min label propagation: every vertex
    converges to the MINIMUM vertex id reachable from it. Returns
    DataFrame(id_col, cluster_id).

    `edges` needs columns (src, dst) (undirected — both directions are
    added here); `vertices` one `id_col` column (isolated vertices keep
    their own id as cluster_id).

    Scale shape: each iteration is one join (labels -> neighbor messages)
    plus one min-aggregate, both shuffling on vertex id — no collect, no
    driver state. Iteration count is O(component diameter); near-dup
    clusters are dense (diameter 2-3 typical), so this converges in a
    handful of rounds where a path-graph worst case would need
    large-star/small-star [Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14]. Lineage is cut per round with
    localCheckpoint so the plan doesn't deepen; convergence is detected by
    an exact changed-label count.
    """
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .unionByName(
            edges.select(
                F.col("dst").cast("long").alias("src"),
                F.col("src").cast("long").alias("dst"),
            )
        )
        .distinct()
        .persist()
    )
    labels = vertices.select(
        F.col(id_col).cast("long").alias("id"), F.col(id_col).cast("long").alias("cluster_id")
    ).localCheckpoint()
    try:
        for _ in range(max_iter):
            msgs = e.join(
                labels.select(F.col("id").alias("src"), "cluster_id"), "src"
            ).select(F.col("dst").alias("id"), "cluster_id")
            # ONE materializing job per round (r7; VERDICT r6 next-7): the
            # new labels AND the changed flag checkpoint together, so
            # convergence detection is a near-free scan of the cached
            # partitions instead of a re-executed shuffle join per round
            merged = (
                labels.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("cluster_id").alias("cluster_id"))
                .join(labels.select("id", F.col("cluster_id").alias("_old")), "id", "left")
                # left + coalesce(False): an id surfacing only via msgs
                # (edge endpoint outside `vertices`) keeps its label but
                # never counts as changed — exactly the old inner-join
                # changed-count semantics
                .withColumn(
                    "_ch", F.coalesce(F.col("cluster_id") != F.col("_old"), F.lit(False))
                )
                .select("id", "cluster_id", "_ch")
                .localCheckpoint()
            )
            labels = merged.select("id", "cluster_id")
            if merged.where("_ch").limit(1).count() == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations"
            )
    finally:
        e.unpersist()
    return labels.withColumnRenamed("id", id_col)


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 2,
    lsh_threshold: float = 0.5,
    verify_threshold: float = 0.8,
    max_iter: int = 50,
) -> DataFrame:
    """Near-duplicate CLUSTERS — the pipeline stage after pair generation:
    MinHash-LSH candidates -> exact n-gram-Jaccard verify -> connected
    components -> per-doc cluster assignment with a deterministic
    representative. Returns DataFrame(id_col, cluster_id, cluster_size,
    keep) where cluster_id = min doc id of the component and keep marks
    the representative (the row a dedup pipeline retains; every other row
    in a multi-doc cluster is dropped).

    This is what an LLM-training dedup pass actually consumes: pairs alone
    don't say which docs to drop when near-dups chain (A~B, B~C but A!~C
    — one cluster {A,B,C}, keep min). All stages are bucketed/banded
    joins + label propagation; nothing is all-pairs.
    """
    cands = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col, shingle=shingle, threshold=lsh_threshold
    )
    verified = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=shingle,
        threshold=verify_threshold,
        candidates=cands,
    )
    cc = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        df.select(id_col),
        id_col=id_col,
        max_iter=max_iter,
    )
    # label propagation ran to convergence above (its checkpoints hold the
    # result), so the signature/candidate caches the pair builders
    # persisted are done — release them instead of leaking them for the
    # session lifetime (r6 review)
    from iresearch_spark.functions.similarity import release_cached

    release_cached(verified)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )
