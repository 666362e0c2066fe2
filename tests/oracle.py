"""Independent pure-Python/NumPy reference implementation ("fixture oracle").

Plays the role of the reference's golden test fixtures (bm25_test.cpp
expected rankings, assert_index expected postings — SURVEY.md §5.1): a
completely separate implementation of analyzer -> postings -> BM25 top-k
that the Spark engine must match exactly (rank- and float32-score-identical).

Pinned semantics shared with the engine (and asserted by tests):
- tokens: lowercase, split on DEFAULT_DELIM_REGEX, drop empties; positions
  indexed over the pre-stopword sequence (stopwords leave gaps)
- dl = count of post-stopword tokens
- BM25: float32, factored c0 - c0*c1/(c1+tf) evaluation
- leg merge: float32 leg scores summed in float64, cast back to float32
- top-k: score desc, docID asc

The end of the file keeps the token-level Spark packer (`pack_tokens`) that
the library's one build packer must match byte for byte, in the block layout
that still carried per-posting doc lengths (`LEGACY_COLS`).
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, IntegerType, LongType, StructField, StructType

from iresearch_spark.index.build import DEFAULT_CHUNK_BITS
from iresearch_spark.index.codec import BLOCK_SIZE, delta_encode, varint_encode

F32 = np.float32

DELIM = re.compile(r"[^a-z0-9_]+")


def tokenize(text: str, stopwords: frozenset[str] = frozenset()) -> list[tuple[int, str]]:
    """-> [(pos, term)] with stopword gaps."""
    raw = [t for t in DELIM.split(text.lower()) if t]
    return [(i, t) for i, t in enumerate(raw) if t not in stopwords]


@dataclass
class OracleIndex:
    postings: dict[str, list[tuple[int, int, list[int]]]] = field(default_factory=dict)
    # term -> [(doc_id, tf, positions)], doc ascending
    doclen: dict[int, int] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.doclen)

    @property
    def avg_dl(self) -> float:
        return sum(self.doclen.values()) / len(self.doclen) if self.doclen else 0.0

    def doc_freq(self, term: str) -> int:
        return len(self.postings.get(term, []))

    def total_tf(self, term: str) -> int:
        return sum(tf for _, tf, _ in self.postings.get(term, []))


def build_index(docs: list[tuple[int, str]], stopwords: frozenset[str] = frozenset()) -> OracleIndex:
    """docs: [(doc_id, text)]; doc_ids must be unique."""
    idx = OracleIndex()
    acc: dict[str, dict[int, list[int]]] = defaultdict(dict)
    for doc_id, text in docs:
        toks = tokenize(text, stopwords)
        idx.doclen[doc_id] = len(toks)
        for pos, term in toks:
            acc[term].setdefault(doc_id, []).append(pos)
    for term, dmap in acc.items():
        idx.postings[term] = [
            (d, len(ps), ps) for d, ps in sorted(dmap.items())
        ]
    return idx


# ---------------------------------------------------------------------------
# BM25 (float32 factored form) — mirrors search/scorers.py independently
# ---------------------------------------------------------------------------

def bm25_idf(n_docs: int, doc_freq: int) -> np.float32:
    return F32(math.log1p((n_docs - doc_freq + 0.5) / (doc_freq + 0.5)))


def bm25_score(tf: int, dl: int, idf: np.float32, avg_dl: float, k: float = 1.2, b: float = 0.75, boost: float = 1.0) -> np.float32:
    c0 = F32(boost) * F32(k + 1) * F32(idf)
    if k == 0.0:
        return F32(c0)
    c1 = F32(k) * F32(1.0 - b) + (F32(k) * F32(b) / F32(avg_dl)) * F32(dl)
    return F32(c0 - c0 * c1 / (c1 + F32(tf)))


def tfidf_idf(n_docs: int, doc_freq: int) -> np.float32:
    return F32(math.log1p((n_docs + 1.0) / (doc_freq + 1.0)))


def tfidf_score(tf: int, dl: int, idf: np.float32, with_norms: bool = False, boost: float = 1.0) -> np.float32:
    s = F32(boost) * F32(idf) * F32(np.sqrt(F32(tf)))
    if with_norms:
        s = F32(s / np.sqrt(F32(dl)))
    return F32(s)


# ---------------------------------------------------------------------------
# Query evaluation
# ---------------------------------------------------------------------------

def score_term(idx: OracleIndex, term: str, boost: float = 1.0, k: float = 1.2, b: float = 0.75) -> dict[int, np.float32]:
    out: dict[int, np.float32] = {}
    plist = idx.postings.get(term, [])
    if not plist:
        return out
    idf = bm25_idf(idx.n_docs, len(plist))
    for doc, tf, _ in plist:
        out[doc] = bm25_score(tf, idx.doclen[doc], idf, idx.avg_dl, k, b, boost)
    return out


def merge_sum(legs: list[dict[int, np.float32]], min_match: int = 1) -> dict[int, np.float32]:
    """kSum merge: float32 legs summed in float64, cast to float32."""
    cnt: Counter = Counter()
    acc: dict[int, float] = defaultdict(float)
    for leg in legs:
        for d, s in leg.items():
            cnt[d] += 1
            acc[d] += float(s)
    return {d: F32(acc[d]) for d in acc if cnt[d] >= min_match}


def score_and(idx: OracleIndex, terms: list[str], boost: float = 1.0) -> dict[int, np.float32]:
    legs = [score_term(idx, t, boost) for t in terms]
    return merge_sum(legs, min_match=len(terms))


def score_or(idx: OracleIndex, terms: list[str], min_match: int = 1, boost: float = 1.0) -> dict[int, np.float32]:
    legs = [score_term(idx, t, boost) for t in terms]
    return merge_sum(legs, min_match=min_match)


def score_phrase(idx: OracleIndex, terms: list[str], boost: float = 1.0, k: float = 1.2, b: float = 0.75) -> dict[int, np.float32]:
    """BM25 over phrase frequency; idf = float32 sum of member idfs."""
    if any(t not in idx.postings for t in terms):
        return {}
    idf = F32(sum(F32(bm25_idf(idx.n_docs, idx.doc_freq(t))) for t in terms))
    pos_by_doc: list[dict[int, set[int]]] = [
        {d: set(ps) for d, _, ps in idx.postings[t]} for t in terms
    ]
    out: dict[int, np.float32] = {}
    for doc in pos_by_doc[0]:
        if not all(doc in m for m in pos_by_doc[1:]):
            continue
        ptf = sum(
            1
            for p in pos_by_doc[0][doc]
            if all(p + off in pos_by_doc[off][doc] for off in range(1, len(terms)))
        )
        if ptf:
            out[doc] = bm25_score(ptf, idx.doclen[doc], idf, idx.avg_dl, k, b, boost)
    return out


def topk(scores: dict[int, np.float32], k: int) -> list[tuple[int, float]]:
    """score desc, doc asc."""
    return sorted(scores.items(), key=lambda it: (-float(it[1]), it[0]))[:k]


def score_varphrase(idx: OracleIndex, slots: list[list[str]], boost: float = 1.0,
                    k: float = 1.2, b: float = 0.75) -> dict[int, np.float32]:
    """Variadic phrase: slot j matches any of its terms at position p+j.
    idf = float32 sum of every matched (slot, term) idf."""
    slots = [[t for t in ts if t in idx.postings] for ts in slots]
    if any(not ts for ts in slots):
        return {}
    idf = F32(sum(F32(bm25_idf(idx.n_docs, idx.doc_freq(t))) for ts in slots for t in ts))
    # per slot: doc -> set of positions (union over slot terms)
    slot_pos: list[dict[int, set[int]]] = []
    for ts in slots:
        m: dict[int, set[int]] = {}
        for t in ts:
            for d, _, ps in idx.postings[t]:
                m.setdefault(d, set()).update(ps)
        slot_pos.append(m)
    out: dict[int, np.float32] = {}
    for doc in slot_pos[0]:
        if not all(doc in m for m in slot_pos[1:]):
            continue
        ptf = sum(
            1
            for p in slot_pos[0][doc]
            if all(p + j in slot_pos[j][doc] for j in range(1, len(slots)))
        )
        if ptf:
            out[doc] = bm25_score(ptf, idx.doclen[doc], idf, idx.avg_dl, k, b, boost)
    return out


# ---------------------------------------------------------------------------
# Token-level packer: the byte-identity reference for the library's one
# build packer (index/build.py's doc packer + partial merger). Token rows
# (doc_id, dl, term[, pos]) -> packed block rows through a JVM
# groupBy(term, chunk) collect_list(struct) and a second Arrow kernel.
# ---------------------------------------------------------------------------


# The block layout before doc lengths moved to the docmap: every block
# also carries `last_doc` and a per-posting `dls_bin`. `pack_tokens` keeps
# writing it, so tests can build stores that mix both layouts; the library
# writes neither column and compares the rest byte for byte.
LEGACY_COLS = ("last_doc", "dls_bin")
_BLOCK_STRUCT = StructType(
    [
        StructField("block_intra", IntegerType()),
        StructField("doc_count", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", IntegerType()),
        StructField("sum_tf", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("tfs_bin", BinaryType()),
        StructField("dls_bin", BinaryType()),
        StructField("pos_bin", BinaryType()),
    ]
)


def _make_token_packer(block_size: int):
    @pandas_udf(ArrayType(_BLOCK_STRUCT))
    def _pack_tokens_udf(
        doc_ids: pd.Series, dls: pd.Series, pos_flat: pd.Series
    ) -> pd.Series:
        """One input row = one (term, chunk) TOKEN group, sorted by
        (doc, pos); per-doc tf/positions are derived here instead of in a
        separate groupBy(doc, term) aggregation — the r2 single-shuffle
        build (the old two-agg pipeline moved every posting through TWO
        shuffles; this moves each token through ONE)."""
        out = []
        for d, l, p in zip(doc_ids, dls, pos_flat):
            darr = np.asarray(d, dtype=np.int64)
            larr = np.asarray(l, dtype=np.uint64)
            n = darr.size
            with_pos = p is not None
            # unique-doc boundaries (tokens sorted by doc, then pos)
            bnd = np.flatnonzero(np.concatenate(([True], darr[1:] != darr[:-1])))
            udocs = darr[bnd].astype(np.uint64)
            tf = np.diff(np.concatenate((bnd, [n]))).astype(np.uint64)
            udl = larr[bnd]
            if with_pos:
                parr = np.asarray(p, dtype=np.int64)
                deltas = np.empty_like(parr)
                if n:
                    deltas[0] = parr[0]
                    np.subtract(parr[1:], parr[:-1], out=deltas[1:])
                    deltas[bnd] = parr[bnd]  # delta resets per doc
                deltas = deltas.astype(np.uint64)
            blocks = []
            nu = udocs.size
            for bi, s in enumerate(range(0, nu, block_size)):
                e = min(s + block_size, nu)
                tok_s = int(bnd[s])
                tok_e = int(bnd[e]) if e < nu else n
                tb = tf[s:e]
                lb = udl[s:e]
                blocks.append(
                    {
                        "block_intra": bi,
                        "doc_count": int(e - s),
                        "first_doc": int(udocs[s]),
                        "last_doc": int(udocs[e - 1]),
                        "max_tf": int(tb.max()),
                        "min_dl": int(lb.min()),
                        "sum_tf": int(tb.sum()),
                        "docs_bin": varint_encode(delta_encode(udocs[s:e])),
                        "tfs_bin": varint_encode(tb),
                        "dls_bin": varint_encode(lb),
                        "pos_bin": varint_encode(deltas[tok_s:tok_e]) if with_pos else None,
                    }
                )
            out.append(blocks)
        return pd.Series(out)

    return _pack_tokens_udf


def pack_tokens(
    tokens: DataFrame,
    block_size: int = BLOCK_SIZE,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    with_positions: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-level rows (doc_id, dl, term[, pos]) -> packed block rows, in
    ONE shuffle: groupBy(term, chunk) collects sorted (doc, pos, dl)
    structs and the Arrow kernel derives per-doc tf/positions AND packs
    blocks in the same pass. Replaces the two-shuffle pipeline
    (groupBy(doc, term) then groupBy(term, chunk)) on the build path —
    measured the dominant cost at scale; the token payload through the one
    remaining shuffle is ~1.4x a posting row, for half the shuffles.
    Output: the library's postings schema plus the legacy `LEGACY_COLS`."""
    t = tokens.withColumn("_chunk", (F.col("doc_id") / F.lit(1 << chunk_bits)).cast("long"))
    entry = (
        F.struct("doc_id", "pos", "dl") if with_positions else F.struct("doc_id", "dl")
    )
    grouped = t.groupBy("term", "_chunk").agg(
        F.sort_array(F.collect_list(entry)).alias("tl")
    )
    doc_ids = F.transform("tl", lambda x: x["doc_id"])
    dls = F.transform("tl", lambda x: x["dl"])
    pos = (
        F.transform("tl", lambda x: x["pos"]).cast("array<long>")
        if with_positions
        else F.lit(None).cast("array<long>")
    )
    pre = grouped.select(
        "term",
        "_chunk",
        doc_ids.cast("array<long>").alias("_dd"),
        dls.cast("array<long>").alias("_dl"),
        pos.alias("_pp"),
    )
    n_part = num_partitions or tokens.sparkSession.sparkContext.defaultParallelism
    # exchange = physical term clustering for parquet pruning + the
    # CollapseProject barrier Python UDFs need under lambda-bearing inputs
    pre = pre.repartition(n_part, "term", "_chunk").sortWithinPartitions("term", "_chunk")
    packer = _make_token_packer(block_size)
    blocks_per_chunk = max(1, (1 << chunk_bits) // block_size)
    exploded = pre.select(
        "term",
        "_chunk",
        F.explode(packer("_dd", "_dl", "_pp")).alias("_b"),
    )
    return exploded.select(
        "term",
        (F.col("_chunk") * blocks_per_chunk + F.col("_b.block_intra"))
        .cast("long")
        .alias("block_id"),
        F.col("_b.doc_count").alias("doc_count"),
        F.col("_b.first_doc").alias("first_doc"),
        F.col("_b.last_doc").alias("last_doc"),
        F.col("_b.max_tf").alias("max_tf"),
        F.col("_b.min_dl").alias("min_dl"),
        F.col("_b.sum_tf").alias("sum_tf"),
        F.col("_b.docs_bin").alias("docs_bin"),
        F.col("_b.tfs_bin").alias("tfs_bin"),
        F.col("_b.dls_bin").alias("dls_bin"),
        *([F.col("_b.pos_bin").alias("pos_bin")] if with_positions else []),
    )
