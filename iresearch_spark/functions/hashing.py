"""Vectorized (numpy) reimplementation of Spark's `xxhash64` expression.

Why: the dedup sketch operators (simhash / minhash) hash tens of millions
of tokens per pass. Catalyst higher-order functions (`transform`,
`zip_with`, `aggregate`) evaluate their lambda per element in interpreted
mode — measured ~50 us/token on the bench corpus, which made the JVM
tokenize+hash pipeline 90%+ of BigSimhash/BigMinhashLSH wall time (guide
§4.2: hand whole batches to vectorized native code instead). These
routines produce BIT-IDENTICAL values to `F.xxhash64(...)` (pinned by
tests/test_round7.py property tests against Spark itself), so every
DuckDB-oracled gate row that consumes the sketches is unchanged.

Algorithm: XXH64 as implemented by Spark (`XXH64.java`): seed-chained
per column — `xxhash64(c1, c2)` = hash(c2, seed=hash(c1, seed=42)) —
with longs hashed as 8 little-endian bytes through the hashLong fast
path and strings as UTF-8 bytes. All arithmetic is uint64 with
wraparound (numpy arrays wrap silently; kernels mask the warning).
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

DEFAULT_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def _seed_arr(seed, n: int) -> np.ndarray:
    if np.ndim(seed) == 0:
        return np.full(n, np.uint64(seed), dtype=np.uint64)
    return np.asarray(seed, dtype=np.uint64)


def xxhash64_long(vals: np.ndarray, seed=DEFAULT_SEED) -> np.ndarray:
    """XXH64 of each int64 value as Spark hashes a LongType column
    (XXH64.hashLong: 8 little-endian bytes, single-word fast path).
    `seed` may be a scalar or an aligned array (chained hashing).
    Returns int64."""
    old = np.seterr(over="ignore")
    try:
        v = np.asarray(vals).astype(np.uint64, copy=False)
        h = _seed_arr(seed, v.size) + _P5 + np.uint64(8)
        k1 = _rotl(v * _P2, 31) * _P1
        h = h ^ k1
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h).astype(np.int64)
    finally:
        np.seterr(**old)


def xxhash64_int(vals, seed=DEFAULT_SEED) -> np.ndarray:
    """XXH64 of each int32 value as Spark hashes an IntegerType column
    (XXH64.hashInt — NOT widened to long: a python-int literal below 2^31
    becomes IntegerType in `F.lit`, so `F.xxhash64(F.lit(seed), ...)`
    chains through this path)."""
    old = np.seterr(over="ignore")
    try:
        v = np.asarray(vals, dtype=np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)
        h = _seed_arr(seed, v.size) + _P5 + np.uint64(4)
        h = h ^ (v * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h).astype(np.int64)
    finally:
        np.seterr(**old)


def xxhash64_long_pair(a: np.ndarray, b: np.ndarray, seed=DEFAULT_SEED) -> np.ndarray:
    """Spark `F.xxhash64(colA, colB)` over two long columns: seed-chained
    hashLong (each column hashed with the running hash as its seed)."""
    h1 = xxhash64_long(a, seed)
    return xxhash64_long(b, h1.astype(np.uint64))


def _hash_bytes_rows(mat: np.ndarray, L: int, seed) -> np.ndarray:
    """XXH64 of the first L bytes of each row of a row-padded uint8 matrix
    (row width is L rounded up to a word multiple; padding bytes are never
    read as data). Vectorized along the row axis — every row shares the
    same control flow because L is shared. Mirrors Spark
    XXH64.hashUnsafeBytes word-for-word (little-endian getLong/getInt,
    unsigned byte tail)."""
    n = mat.shape[0]
    seed_arr = _seed_arr(seed, n)
    n_words = L // 8
    words = mat.view("<u8").reshape(n, -1) if mat.shape[1] else None
    if L >= 32:
        v1 = seed_arr + _P1 + _P2
        v2 = seed_arr + _P2
        v3 = seed_arr.copy()
        v4 = seed_arr - _P1
        for s in range(L // 32):
            v1 = _rotl(v1 + words[:, 4 * s] * _P2, 31) * _P1
            v2 = _rotl(v2 + words[:, 4 * s + 1] * _P2, 31) * _P1
            v3 = _rotl(v3 + words[:, 4 * s + 2] * _P2, 31) * _P1
            v4 = _rotl(v4 + words[:, 4 * s + 3] * _P2, 31) * _P1
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        word_i = (L // 32) * 4
    else:
        h = seed_arr + _P5
        word_i = 0
    h = h + np.uint64(L)
    for wi in range(word_i, n_words):
        h = h ^ (_rotl(words[:, wi] * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
    off = n_words * 8
    if L - off >= 4:
        iv = (
            np.ascontiguousarray(mat[:, off : off + 4]).view("<u4").reshape(n)
        ).astype(np.uint64)
        h = h ^ (iv * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        off += 4
    for bi in range(off, L):
        h = h ^ (mat[:, bi].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
    return _fmix(h)


def xxhash64_bytes(tokens, seed=DEFAULT_SEED) -> np.ndarray:
    """XXH64 of each python string's UTF-8 bytes (Spark StringType
    semantics), length-grouped for vectorization. `seed` may be a scalar
    or an array aligned with `tokens` (chained hashing:
    `F.xxhash64(a, b)` = `xxhash64_bytes(b, xxhash64_bytes(a))`).
    Returns int64 aligned with the input sequence."""
    old = np.seterr(over="ignore")
    try:
        n = len(tokens)
        out = np.empty(n, dtype=np.int64)
        if n == 0:
            return out
        seeds = None if np.ndim(seed) == 0 else _seed_arr(seed, n)
        enc = [t.encode("utf-8") for t in tokens]
        lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
        for L in np.unique(lens):
            idx = np.flatnonzero(lens == L)
            L = int(L)
            pad = (-L) % 8
            buf = b"".join(enc[i] + b"\x00" * pad for i in idx)
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(idx.size, L + pad)
            s = seed if seeds is None else seeds[idx]
            out[idx] = _hash_bytes_rows(mat, L, s).astype(np.int64)
        return out
    finally:
        np.seterr(**old)
