"""Scorers: BM25 (default) and TF-IDF, float32 rank-identical kernels.

Reference formulas (core/search/bm25.hpp:29-57, bm25.cpp:366-410):

    idf  = ln(1 + (N - n + 0.5) / (n + 0.5))          [BM25]
    idf  = ln(1 + (N + 1) / (n + 1))                   [TFIDF]
    bm25 = idf * (k+1) * tf / (k * (1 - b + b*dl/avgdl) + tf)
    tfidf= idf * sqrt(tf) [* 1/sqrt(dl) if norms]

evaluated in the reference's factored form score = c0 - c0*c1/(c1 + tf) with
c0 = boost*(k+1)*idf and c1 = k*(1-b) + (k*b/avgdl)*dl (bm25.cpp:319-364),
all in float32 (`score_t = float`, core/utils/types.hpp:35). Rank-identity
therefore requires float32 arithmetic in the same factored order — these
kernels and the NumPy oracle in tests/oracle.py share that discipline.

Variants (bm25.hpp:107-113): BM15 (b=0), BM11 (b=1), BM1 (k=0 -> constant).
Score merge across boolean legs is kSum by default (scorer.hpp:224-236):
per-leg float32 scores summed exactly (few small values -> float64 sum is
exact and order-free), result cast back to float32.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, fields, replace

import numpy as np

F32 = np.float32


@dataclass(frozen=True)
class FieldStats:
    """FieldCollector output (bm25.cpp:45-60): docs with the field and the
    total term-frequency sum — avgdl = total_len / docs_count."""

    docs_count: int
    sum_len: int
    # Largest doc length in the index, when the manifest knows it (r5):
    # drives the reference's automatic kNorm2Tiny selection — bm25.cpp
    # :348-353 scores through the 256-entry reciprocal cache WHENEVER
    # norms fit one byte. None/-1 = unknown (legacy manifest).
    max_dl: int | None = None

    @property
    def avg_dl(self) -> float:
        return self.sum_len / self.docs_count if self.docs_count else 0.0


class Scorer:
    name = "base"
    dtype = np.float32

    def idf(self, n_docs_with_term: int, field: FieldStats) -> float:
        raise NotImplementedError

    def prepare(self, field: FieldStats, doc_freq: int, boost: float = 1.0) -> "TermScorer":
        raise NotImplementedError

    def prepare_terms(self, field: FieldStats, doc_freqs, boosts=1.0) -> "TermScorer":
        """One array scorer for many terms: `prepare` of each (doc_freq,
        boost) pair, bit for bit, with the per-term factor held as an
        array (see `TermScorer`). `boosts` is one float or one per term."""
        raise NotImplementedError

    def _idfs(self, doc_freqs, field: FieldStats) -> np.ndarray:
        """`idf` per doc_freq in `dtype`, evaluated once per distinct value
        by the scalar formula: np.log1p differs from math.log1p in the
        last float64 bit for some inputs, which can flip float32 ties."""
        uniq, inv = np.unique(np.asarray(doc_freqs, dtype=np.int64), return_inverse=True)
        return np.array([self.idf(int(n), field) for n in uniq], dtype=self.dtype)[inv]


@dataclass(frozen=True)
class BM25(Scorer):
    k: float = 1.2
    b: float = 0.75
    # opt-in kNorm2Tiny parity: when every doc length fits one byte the
    # reference scores through a 256-entry reciprocal cache instead of the
    # factored form (bm25.cpp:345-352 cache fill, :404-409 evaluation) —
    # SURVEY.md §2.D's named rank-identity pitfall vs the reference binary
    tiny_norms: bool = False
    # reference-parity AUTO selection (r5): pick the tiny-norm cache
    # exactly when the segment's max dl fits one byte, like the reference
    # does unconditionally (bm25.cpp:348-353). Off by default so the
    # factored form — the one the DuckDB oracles replicate — stays the
    # default; golden-tested equal to the opt-in mode on a 1-byte-dl
    # corpus and equal to the factored form past 255.
    auto_norms: bool = False
    # opt-in legacy-Norm parity (NormType::kNorm, scorer_impl.hpp:108-115):
    # tf' = float32 sqrt(tf) (bm25.cpp kSQRT), stored norm =
    # f32(1/f32(sqrt(f64(dl)))) (norm.cpp:38), c1 = k(1-b) + (kb/avgdl)*norm
    # — produces DIFFERENT orderings than Norm2 (bm25_test pins both)
    legacy_norms: bool = False
    name: str = "bm25"

    def idf(self, n: int, field: FieldStats) -> float:
        # double-precision log1p then float32 cast, like bm25.cpp:380-384
        return float(F32(math.log1p((field.docs_count - n + 0.5) / (n + 0.5))))

    def prepare(self, field: FieldStats, doc_freq: int, boost: float = 1.0) -> "TermScorer":
        return self._compiled(field, F32(boost) * F32(self.k + 1) * F32(self.idf(doc_freq, field)))

    def prepare_terms(self, field: FieldStats, doc_freqs, boosts=1.0) -> "TermScorer":
        return self._compiled(field, F32(boosts) * F32(self.k + 1) * self._idfs(doc_freqs, field))

    def _compiled(self, field: FieldStats, c0) -> "TermScorer":
        """The term scorer of float32 factor(s) c0 = boost * (k+1) * idf."""
        if np.ndim(c0) == 0:
            c0 = float(c0)
        if self.k == 0.0:  # BM1: constant score c0 (bm25.hpp:107)
            return ConstTermScorer(c0)
        kb = F32(self.k) * F32(self.b)
        k1b = F32(self.k) * F32(1.0 - self.b)
        inv_avg = F32(kb) / F32(field.avg_dl) if field.avg_dl else F32(0.0)
        tiny = self.tiny_norms or (
            self.auto_norms
            and field.max_dl is not None
            and 0 <= field.max_dl <= 255
        )
        if tiny:
            return BM25TinyNormTermScorer(c0=c0, c1_base=float(k1b), c1_slope=float(inv_avg))
        if self.legacy_norms:
            return BM25LegacyTermScorer(c0=c0, c1_base=float(k1b), c1_slope=float(inv_avg))
        return BM25TermScorer(c0=c0, c1_base=float(k1b), c1_slope=float(inv_avg))


@dataclass(frozen=True)
class TFIDF(Scorer):
    with_norms: bool = False
    name: str = "tfidf"

    def idf(self, n: int, field: FieldStats) -> float:
        return float(F32(math.log1p((field.docs_count + 1.0) / (n + 1.0))))

    def prepare(self, field: FieldStats, doc_freq: int, boost: float = 1.0) -> "TermScorer":
        return TFIDFTermScorer(
            c0=float(F32(boost) * F32(self.idf(doc_freq, field))),
            with_norms=self.with_norms,
        )

    def prepare_terms(self, field: FieldStats, doc_freqs, boosts=1.0) -> "TermScorer":
        return TFIDFTermScorer(c0=F32(boosts) * self._idfs(doc_freqs, field), with_norms=self.with_norms)


class TermScorer:
    """Compiled scorer of one query term, vectorized over posting arrays.

    An array scorer (`Scorer.prepare_terms`, `concat`) scores many terms:
    its per-term factor (the `per_term` field, c0 or idf) is an array with
    one entry per term, its other fields are the parameters all of them
    share, and `scores` takes each posting's term code, by which it
    gathers the factor. Per posting it evaluates the same float ops as
    the term scorer of that term."""

    dtype = np.float32
    # True when score is non-increasing in dl, i.e. (max_tf, min_dl)
    # dominates a block and block-max WAND bounds are valid. Legacy-Norm
    # BM25 REWARDS longer docs (c1 shrinks with dl), so its block bound
    # would need max_dl — pruning is disabled for such scorers.
    monotone_dl = True
    per_term = "c0"

    def _factor(self, codes):
        """The per-term factor: a term scorer's own, or an array scorer's
        gathered at `codes`."""
        v = getattr(self, self.per_term)
        return self.dtype(v) if codes is None else v[codes]

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        raise NotImplementedError

    def term_ubs(self) -> np.ndarray:
        """Whole-list upper bound per term (tf -> inf limit, float64), used
        as the "other legs" contribution in boolean block-max pruning
        (reference UpperBounds.tail, core/search/score.hpp:33-62). inf
        disables pruning for scorers with no closed-form bound (TFIDF)."""
        return np.full(np.size(getattr(self, self.per_term)), np.inf)

    def term_ub(self) -> float:
        return float(self.term_ubs()[0])

    def family(self) -> tuple:
        """Scorers of one family differ only in their per-term factor."""
        return (type(self), *(getattr(self, f.name) for f in fields(self) if f.name != self.per_term))

    @staticmethod
    def concat(scorers: list["TermScorer"]) -> "TermScorer":
        """One array scorer of same-family term or array scorers, their
        terms in order."""
        first = scorers[0]
        f = first.per_term
        v = np.concatenate([np.atleast_1d(np.asarray(getattr(s, f), first.dtype)) for s in scorers])
        return replace(first, **{f: v})


class _C0UB:
    """Whole-list bound c0 (tf -> inf: score -> c0)."""

    def term_ubs(self) -> np.ndarray:
        return np.atleast_1d(np.asarray(self.c0, np.float32)).astype(np.float64)


@dataclass(frozen=True)
class BM25TermScorer(_C0UB, TermScorer):
    c0: float
    c1_base: float
    c1_slope: float

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        tf = tfs.astype(np.float32, copy=False)
        c1 = F32(self.c1_base) + F32(self.c1_slope) * dls.astype(np.float32, copy=False)
        c0 = self._factor(codes)
        return (c0 - c0 * c1 / (c1 + tf)).astype(np.float32, copy=False)


@dataclass(frozen=True)
class BM25TinyNormTermScorer(_C0UB, TermScorer):
    """kNorm2Tiny reciprocal-cache evaluation (bm25.cpp:404-409): a
    256-entry float32 cache of inv_c1(dl) = 1/(c1_base + c1_slope*dl)
    (cache[0] = 0, bm25.cpp:345-352), then score = c0 - c0/(1 + tf*inv_c1).
    Mathematically equal to the factored form but NOT bit-equal in float32
    — the reciprocal rounds before the multiply — so ranks can diverge
    from BM25TermScorer on near-tied docs; that divergence is exactly what
    the reference binary exhibits on a 1-byte-norm segment. Requires every
    dl <= 255 (asserted)."""

    c0: float
    c1_base: float
    c1_slope: float

    def __post_init__(self):
        cache = np.empty(256, dtype=np.float32)
        cache[0] = 0.0
        i = np.arange(1, 256, dtype=np.float32)
        cache[1:] = F32(1.0) / (F32(self.c1_base) + F32(self.c1_slope) * i)
        object.__setattr__(self, "_cache", cache)

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        dli = np.asarray(dls).astype(np.int64, copy=False)
        assert dli.size == 0 or (0 <= dli.min() and dli.max() <= 255), (
            "tiny-norm mode requires 1-byte doc lengths (dl <= 255)"
        )
        inv_c1 = self._cache[dli]  # type: ignore[attr-defined]
        tf = tfs.astype(np.float32, copy=False)
        c0 = self._factor(codes)
        return (c0 - c0 / (F32(1.0) + tf * inv_c1)).astype(np.float32, copy=False)


@dataclass(frozen=True)
class BM25LegacyTermScorer(_C0UB, TermScorer):
    """Legacy-Norm BM25 (NormType::kNorm): tf' = f32 sqrt(tf), stored
    norm = f32(1)/f32(sqrt(f64(dl))), c1 = c1_base + c1_slope * norm,
    score = c0 - c0*c1/(c1 + tf') — bm25.cpp:330-361 with the kNorm
    branch. NOT dl-monotone (block-max pruning disabled via monotone_dl)."""

    c0: float
    c1_base: float
    c1_slope: float
    monotone_dl = False

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        tf = np.sqrt(tfs.astype(np.float32, copy=False)).astype(np.float32)
        denom = np.sqrt(dls.astype(np.float64)).astype(np.float32)
        norm = (np.float32(1.0) / denom).astype(np.float32)
        c1 = F32(self.c1_base) + F32(self.c1_slope) * norm
        c0 = self._factor(codes)
        return (c0 - c0 * c1 / (c1 + tf)).astype(np.float32, copy=False)


@dataclass(frozen=True)
class TFIDFTermScorer(TermScorer):
    c0: float
    with_norms: bool = False

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        out = self._factor(codes) * np.sqrt(tfs.astype(np.float32, copy=False))
        if self.with_norms:
            out = out / np.sqrt(dls.astype(np.float32, copy=False))
        return out.astype(np.float32, copy=False)


@dataclass(frozen=True)
class ConstTermScorer(_C0UB, TermScorer):
    c0: float

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        if codes is None:
            return np.full(tfs.shape, F32(self.c0), dtype=np.float32)
        return self.c0[codes]


# ---------------------------------------------------------------------------
# Precise (float64) scorer family — the driver-gate mode.
#
# The correctness gate compares the engine against a DuckDB oracle that
# evaluates BM25/TFIDF in IEEE doubles (plans/parity.py SCORE_EXPR). These
# scorers replicate the oracle's EXACT float64 expression tree (same
# literals, same association order), so engine scores and oracle scores are
# bit-identical per leg; kSum leg summation order may differ, absorbed by
# the shared 6-dp rounding applied before ordering/compare (VERDICT r1 §1:
# "or run the gate kernel in float64"). Rank semantics for the product path
# stay float32 (reference score_t parity); precise mode exists so the gate
# can execute the REAL packed-index path end-to-end.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PreciseBM25(Scorer):
    """float64 BM25 matching parity SCORE_EXPR:
    idf * ((k+1)*tf) / (k*((1-b) + (b*dl)/avgdl) + tf),
    idf = ln(1 + (N - n + 0.5)/(n + 0.5))."""

    k: float = 1.2
    b: float = 0.75
    legacy_norms: bool = False
    name: str = "bm25_precise"
    dtype = np.float64

    def idf(self, n: int, field: FieldStats) -> float:
        return math.log1p((field.docs_count - n + 0.5) / (n + 0.5))

    def prepare(self, field: FieldStats, doc_freq: int, boost: float = 1.0) -> "TermScorer":
        return self._compiled(field, boost * self.idf(doc_freq, field))

    def prepare_terms(self, field: FieldStats, doc_freqs, boosts=1.0) -> "TermScorer":
        return self._compiled(field, np.asarray(boosts, np.float64) * self._idfs(doc_freqs, field))

    def _compiled(self, field: FieldStats, idf) -> "TermScorer":
        """The term scorer of boosted idf(s)."""
        if self.k == 0.0:
            return PreciseConstTermScorer(idf)
        if self.legacy_norms:
            return PreciseBM25LegacyTermScorer(idf=idf, k=self.k, b=self.b, avg_dl=field.avg_dl)
        return PreciseBM25TermScorer(idf=idf, k=self.k, b=self.b, avg_dl=field.avg_dl)


@dataclass(frozen=True)
class PreciseTFIDF(Scorer):
    with_norms: bool = False
    name: str = "tfidf_precise"
    dtype = np.float64

    def idf(self, n: int, field: FieldStats) -> float:
        return math.log1p((field.docs_count + 1.0) / (n + 1.0))

    def prepare(self, field: FieldStats, doc_freq: int, boost: float = 1.0) -> "TermScorer":
        return PreciseTFIDFTermScorer(
            idf=boost * self.idf(doc_freq, field), with_norms=self.with_norms
        )

    def prepare_terms(self, field: FieldStats, doc_freqs, boosts=1.0) -> "TermScorer":
        idf = np.asarray(boosts, np.float64) * self._idfs(doc_freqs, field)
        return PreciseTFIDFTermScorer(idf=idf, with_norms=self.with_norms)


class _IdfUB:
    """Whole-list bound idf * (k+1) (tf -> inf)."""

    per_term = "idf"

    def term_ubs(self) -> np.ndarray:
        return np.atleast_1d(np.asarray(self.idf, np.float64) * (self.k + 1.0))


@dataclass(frozen=True)
class PreciseBM25TermScorer(_IdfUB, TermScorer):
    idf: float
    k: float
    b: float
    avg_dl: float
    dtype = np.float64

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        tf = tfs.astype(np.float64, copy=False)
        dl = dls.astype(np.float64, copy=False)
        # exact parity association: idf * ((k+1)*tf) / (k*((1-b) + (b*dl)/avgdl) + tf)
        num = self._factor(codes) * ((self.k + 1.0) * tf)
        den = self.k * ((1.0 - self.b) + (self.b * dl) / self.avg_dl) + tf
        return num / den


@dataclass(frozen=True)
class PreciseBM25LegacyTermScorer(_IdfUB, TermScorer):
    """float64 legacy-Norm BM25 matching the parity SQL expression tree:
    idf * ((k+1)*sqrt(tf)) / (k*(1-b) + (k*b/avgdl)/sqrt(dl) + sqrt(tf))."""

    idf: float
    k: float
    b: float
    avg_dl: float
    dtype = np.float64
    monotone_dl = False

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        tf = np.sqrt(tfs.astype(np.float64, copy=False))
        dl = dls.astype(np.float64, copy=False)
        num = self._factor(codes) * ((self.k + 1.0) * tf)
        den = self.k * (1.0 - self.b) + (self.k * self.b / self.avg_dl) / np.sqrt(dl) + tf
        return num / den


@dataclass(frozen=True)
class PreciseTFIDFTermScorer(TermScorer):
    idf: float
    with_norms: bool = False
    dtype = np.float64
    per_term = "idf"

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        out = self._factor(codes) * np.sqrt(tfs.astype(np.float64, copy=False))
        if self.with_norms:
            out = out / np.sqrt(dls.astype(np.float64, copy=False))
        return out


@dataclass(frozen=True)
class PreciseConstTermScorer(TermScorer):
    c0: float
    dtype = np.float64

    def scores(self, tfs: np.ndarray, dls: np.ndarray, codes: np.ndarray | None = None) -> np.ndarray:
        if codes is None:
            return np.full(tfs.shape, self.c0, dtype=np.float64)
        return self.c0[codes]

    def term_ubs(self) -> np.ndarray:
        return np.atleast_1d(np.asarray(self.c0, np.float64))


_SCORERS = {
    "bm25": lambda **kw: BM25(**kw),
    "bm15": lambda **kw: BM25(b=0.0, **{k: v for k, v in kw.items() if k != "b"}),
    "bm11": lambda **kw: BM25(b=1.0, **{k: v for k, v in kw.items() if k != "b"}),
    "bm1": lambda **kw: BM25(k=0.0, **{k: v for k, v in kw.items() if k != "k"}),
    "tfidf": lambda **kw: TFIDF(**kw),
    "bm25_tiny": lambda **kw: BM25(tiny_norms=True, **kw),
    "bm25_auto": lambda **kw: BM25(auto_norms=True, **kw),
    "bm25_legacy": lambda **kw: BM25(legacy_norms=True, **kw),
    "bm25_precise": lambda **kw: PreciseBM25(**kw),
    "tfidf_precise": lambda **kw: PreciseTFIDF(**kw),
}


def get_scorer(name: str, **kw) -> Scorer:
    return _SCORERS[name](**kw)
