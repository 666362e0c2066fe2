"""Inverted-index build: doc packer -> partial merge -> packed blocks -> segment.

Spark-first restatement of the reference indexing path (SURVEY.md §3.1):
IndexWriter::Insert's per-doc inversion (core/index/field_data.cpp:985-1080)
becomes one Arrow kernel per input batch (`_make_doc_packer`) that inverts
its docs into varint-packed (term, chunk) partials; one shuffle brings each
(term, chunk)'s partials together and `_make_partial_merger` re-blocks them
at 128 docs (the postings_writer's block encode,
core/formats/formats_10.cpp:865-891); flush/commit becomes a parquet write
+ manifest snapshot (index/segments.py). Every build uses this one packer:
the doc packer has a text front (`text_py_spec` analyzers tokenize inside
the kernel) and a token-array front (Catalyst analyzers and pre-tokenized
streams hand it per-doc position/term arrays); both end in `_invert`.

Scale notes (the parts that must survive 1000 executors / 100 TB):
- Deterministic docIDs WITHOUT a global single-partition window:
  range-partition by the canonical key, count per partition, prefix-sum the
  (tiny) counts on the driver, then partition-local row_number + offset.
- 128-doc blocks WITHOUT per-term windows or per-block groupBys (hot terms
  like `the`, `license` would serialize into one task): postings group by
  (term, chunk) where chunk = doc_id >> chunk_bits bounds every group to
  2^chunk_bits postings, and one Arrow kernel splits each group into packed
  blocks. This is the salting strategy from SURVEY.md §7; the cost is at
  most one partial block per (term, chunk) tail.
- A doc's length is stored once, in the docmap (`len`); postings keep only
  each block's `min_dl` for the WAND bounds (index/norms.py). The build
  carries dl on its partials from tokenize time, so it never joins a
  doclen table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iresearch_spark.analysis.analyzers import Analyzer, TextAnalyzer
from iresearch_spark.index.codec import (
    BLOCK_SIZE,
    delta_encode,
    varint_byte_lens,
    varint_decode,
    varint_encode,
    varint_encode_offsets,
)

DEFAULT_CHUNK_BITS = 14  # window groups bounded to 16384 postings


# ---------------------------------------------------------------------------
# Packing kernel (Arrow-vectorized; the data-plane work Catalyst can't do)
#
# Perf evolution (measured at 120k docs / 11M postings, 8 cores):
#   window-rank + per-block groupBy + 4 scalar UDFs ........ ~52s
#   (term, chunk) groupBy + array-of-struct UDF ............ ~33s
#   ONE repartition + streaming mapInPandas packer ......... see bench
# Other hard-won rules encoded here:
# - never ship array<array<int>> through Arrow (flatten positions first)
# - delta-encode in numpy, not in JVM lambdas (element_at delta is O(n^2))
# - Python UDFs cannot take lambda-bearing higher-order inputs
# ---------------------------------------------------------------------------

_BLOCK_STRUCT = StructType(
    [
        StructField("block_intra", IntegerType()),
        StructField("doc_count", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", IntegerType()),
        StructField("sum_tf", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("tfs_bin", BinaryType()),
        StructField("pos_bin", BinaryType()),
    ]
)


def _make_chunk_packer(block_size: int):
    @pandas_udf(ArrayType(_BLOCK_STRUCT))
    def _pack_chunk_udf(
        doc_ids: pd.Series, tfs: pd.Series, dls: pd.Series, pos_flat: pd.Series
    ) -> pd.Series:
        """One input row = one (term, chunk) posting group (doc-sorted flat
        arrays); output = that group split into <=block_size-doc packed
        blocks (the reference postings_writer's 128-doc block loop,
        formats_10.cpp:865-891, chunk-local)."""
        out = []
        for d, t, l, p in zip(doc_ids, tfs, dls, pos_flat):
            darr = np.asarray(d, dtype=np.uint64)
            tarr = np.asarray(t, dtype=np.uint64)
            larr = np.asarray(l, dtype=np.uint64)
            n = darr.size
            if p is not None:
                parr = np.asarray(p, dtype=np.uint64)
                pos_ends = np.cumsum(tarr)
            blocks = []
            for b, s in enumerate(range(0, n, block_size)):
                e = min(s + block_size, n)
                db, tb, lb = darr[s:e], tarr[s:e], larr[s:e]
                if p is not None:
                    ps = 0 if s == 0 else int(pos_ends[s - 1])
                    pe = int(pos_ends[e - 1])
                    pb = parr[ps:pe]
                    if pb.size:
                        deltas = np.empty_like(pb)
                        deltas[0] = pb[0]
                        np.subtract(pb[1:], pb[:-1], out=deltas[1:])
                        starts = (np.concatenate(([0], np.cumsum(tb)[:-1].astype(np.int64)))).astype(np.int64)
                        deltas[starts] = pb[starts]  # delta resets per doc
                        pos_bin = varint_encode(deltas)
                    else:
                        pos_bin = b""
                else:
                    pos_bin = None
                blocks.append(
                    {
                        "block_intra": b,
                        "doc_count": int(e - s),
                        "first_doc": int(db[0]),
                        "max_tf": int(tb.max()),
                        "min_dl": int(lb.min()),
                        "sum_tf": int(tb.sum()),
                        "docs_bin": varint_encode(delta_encode(db)),
                        "tfs_bin": varint_encode(tb),
                        "pos_bin": pos_bin,
                    }
                )
            out.append(blocks)
        return pd.Series(out)

    return _pack_chunk_udf


# ---------------------------------------------------------------------------
# Deterministic docID assignment
# ---------------------------------------------------------------------------

def null_key_error(keys: list[str]) -> ValueError:
    return ValueError(
        f"assign_doc_ids: NULL in key columns {keys}; ids require "
        "non-null keys (filter or fill before building)"
    )


def assign_doc_ids(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "doc_id",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense deterministic ids = `start` + global rank by key_cols.

    Equivalent to ``row_number() OVER (ORDER BY key_cols)`` but scalable: the
    global ORDER BY window would execute in ONE task. Here: range-partition
    on the key, count rows per partition (a tiny aggregate), prefix-sum the
    counts on the driver, and assign base + partition-local rank inside an
    Arrow kernel that sorts its own partition. Deterministic for unique keys
    regardless of sampling boundaries (reference parity: per-segment dense
    insertion-order doc_id_t, core/utils/type_limits.hpp:39-50).

    Why a kernel and not a window (r3): ``row_number() OVER (PARTITION BY
    _pid)`` forces an Exchange hashpartitioning(_pid) — and hashing N
    distinct pid values into N buckets collides, so some output partitions
    carry 2-3x the docs and every downstream stage straggles on them
    (measured: the whole build pipeline ran at ~2x ideal time at 4-8 cores
    because of this imbalance). The kernel keeps the RANGE partitioning,
    which repartitionByRange balanced by sampling. Output row order within
    each partition is key-sorted, so downstream per-partition consumers see
    ascending doc_ids. The kernel buffers one partition (the input slice)
    in pandas — size that with num_partitions at large scale.
    """
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(n_part, *key_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    keyed = keyed.persist()
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in keyed.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    bases, acc = {}, start
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]

    out_schema = StructType(
        [f for f in keyed.schema.fields if f.name != "_pid"]
        + [StructField(out_col, LongType())]
    )
    keys = list(key_cols)

    def assigner(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        pid = int(pdf["_pid"].iloc[0])
        if pdf[keys].isnull().any().any():
            # NULL keys sort FIRST in Spark's range partitioning but LAST in
            # pandas sort_values — the assigned ids would no longer equal
            # the documented global row_number() rank. Fail fast instead of
            # silently diverging (r3 ADVICE).
            raise null_key_error(keys)
        # pandas str comparison is code-point order == Spark's UTF8 binary
        # order, so ranks match the SQL ORDER BY exactly
        pdf = pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
        pdf = pdf.drop(columns=["_pid"])
        pdf[out_col] = np.arange(len(pdf), dtype=np.int64) + bases[pid]
        yield pdf

    out = keyed.mapInPandas(assigner, out_schema)
    # the intermediate cache must outlive `out`'s first materialization;
    # expose it so callers (build_segment) can unpersist once their own
    # persist of the result is materialized
    out._ir_cached_input = keyed  # type: ignore[attr-defined]
    # total row count fell out of the per-partition count collect for
    # free — callers (build_segment) use it to size joins/broadcasts
    # without another job
    out._ir_n_docs = acc - start  # type: ignore[attr-defined]
    return out


# ---------------------------------------------------------------------------
# Block packing
# ---------------------------------------------------------------------------

def pack_postings(
    postings_flat: DataFrame,
    doclen: DataFrame | None = None,
    block_size: int = BLOCK_SIZE,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    with_positions: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, dl, term, tf[, positions]) -> packed block rows.

    Output: (term, block_id, doc_count, first_doc, max_tf, min_dl, sum_tf,
    docs_bin, tfs_bin[, pos_bin]).

    Blocks hold up to `block_size` docs in ascending doc order; blocks are
    exactly block_size within each doc-range *chunk* (chunk = doc_id >>
    chunk_bits), with at most one partial block per (term, chunk) tail.
    Chunking bounds the largest single aggregation group to 2^chunk_bits
    postings, so hot terms (`the`, `license`) spread across tasks instead of
    serializing into one — the salting strategy from SURVEY.md §7. block_id =
    chunk * blocks_per_chunk + intra is globally doc-ordered per term.

    (max_tf, min_dl) per block is the block-max WAND pair (reference
    core/search/wand_writer.hpp MaxFreq/MinNorm producers); dl itself is
    read from the docmap at query time (index/norms.py). If
    `postings_flat` lacks a dl column, pass `doclen` (doc_id, len) to
    attach it.
    """
    p = postings_flat
    if "dl" not in p.columns:
        assert doclen is not None, "postings_flat lacks dl; doclen required"
        p = p.join(doclen, "doc_id").withColumnRenamed("len", "dl")
    p = p.withColumn("_chunk", (F.col("doc_id") / F.lit(1 << chunk_bits)).cast("long"))

    entry = (
        F.struct("doc_id", "tf", "dl", "positions")
        if with_positions
        else F.struct("doc_id", "tf", "dl")
    )
    grouped = p.groupBy("term", "_chunk").agg(
        F.sort_array(F.collect_list(entry)).alias("plist")
    )
    doc_ids = F.transform("plist", lambda x: x["doc_id"])
    tfs = F.transform("plist", lambda x: x["tf"])
    dls = F.transform("plist", lambda x: x["dl"])
    if with_positions:
        # flat positions; per-doc boundaries recovered from tfs in the UDF
        pos_flat = F.flatten(F.transform("plist", lambda s: s["positions"])).cast(
            "array<long>"
        )
    else:
        pos_flat = F.lit(None).cast("array<long>")
    pre = grouped.select(
        "term",
        "_chunk",
        doc_ids.cast("array<long>").alias("_dd"),
        tfs.cast("array<long>").alias("_tf"),
        dls.cast("array<long>").alias("_dl"),
        pos_flat.alias("_pd"),
    )
    # The exchange below is (a) the physical layout we want on disk (term-
    # clustered, block-ordered, so term-IN parquet pushdown prunes row
    # groups) and (b) a CollapseProject barrier: without it Catalyst folds
    # the array projection into the UDF projection and fails with
    # "Cannot evaluate expression" (Python UDFs cannot take lambda-bearing
    # higher-order inputs).
    n_part = num_partitions or postings_flat.sparkSession.sparkContext.defaultParallelism
    # (term, chunk) in the partition key spreads hot terms across tasks;
    # sortWithinPartitions keeps term clustering for parquet row-group
    # pruning. The exchange is also the CollapseProject barrier Python UDFs
    # need under lambda-bearing inputs.
    pre = pre.repartition(n_part, "term", "_chunk").sortWithinPartitions("term", "_chunk")
    packer = _make_chunk_packer(block_size)
    blocks_per_chunk = max(1, (1 << chunk_bits) // block_size)
    exploded = pre.select(
        "term",
        "_chunk",
        F.explode(packer("_dd", "_tf", "_dl", "_pd")).alias("_b"),
    )
    out = exploded.select(
        "term",
        (F.col("_chunk") * blocks_per_chunk + F.col("_b.block_intra"))
        .cast("long")
        .alias("block_id"),
        F.col("_b.doc_count").alias("doc_count"),
        F.col("_b.first_doc").alias("first_doc"),
        F.col("_b.max_tf").alias("max_tf"),
        F.col("_b.min_dl").alias("min_dl"),
        F.col("_b.sum_tf").alias("sum_tf"),
        F.col("_b.docs_bin").alias("docs_bin"),
        F.col("_b.tfs_bin").alias("tfs_bin"),
        *([F.col("_b.pos_bin").alias("pos_bin")] if with_positions else []),
    )
    return out


# ---------------------------------------------------------------------------
# Combiner build (r3), the one build packer: map-side tokenize + local
# invert + varint pack, then ONE shuffle of packed partials, then a
# sorted-stream merge kernel.
#
# Why: a token-level shuffle moves every TOKEN through the exchange as an
# UnsafeRow struct(doc_id, pos, dl) (~30 B/token) and pays a JVM
# sort_array(collect_list(struct)) per (term, chunk) group. Here each map
# task inverts its own doc slice and ships one varint-packed partial row
# per (term, chunk) (~4-6 B/token, ~25x fewer rows) — the classic map-side
# combine the reference gets for free from its in-memory postings hash
# (core/index/postings.cpp). The reduce side merges partials (disjoint doc
# sets — each doc's tokens live in exactly one map batch) and re-blocks at
# 128 docs, reusing the already-encoded tf/pos bytes via offset slicing.
# Output is byte-identical to the token-level packer kept in tests/oracle.py
# (pinned by tests).
# ---------------------------------------------------------------------------

_PARTIAL_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("_chunk", LongType()),
        StructField("first_doc", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("n_tok", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("tfs_bin", BinaryType()),
        StructField("dls_bin", BinaryType()),
        StructField("pos_bin", BinaryType()),
        # optional char-offset stream (the reference .pay offsets,
        # formats_10.cpp:166-267): interleaved varints (start_delta, len)
        # per occurrence, start delta reset per doc; offsets index the
        # analyzer-cased text (== raw text offsets for ASCII)
        StructField("off_bin", BinaryType()),
        # optional generic per-occurrence payload stream (the reference
        # .pay payload half, formats_10.cpp:166-267 pay_buf): split into a
        # varint length-per-occurrence stream and the raw bytes, so merges
        # can slice at element boundaries without scanning payload bytes
        StructField("paylen_bin", BinaryType()),
        StructField("pay_bin", BinaryType()),
    ]
)


def text_py_spec(analyzer: Analyzer) -> dict | None:
    """Python-side tokenizer spec for analyzers the doc packer's text front
    can run entirely inside an Arrow kernel; None -> the analyzer's Catalyst
    token arrays feed the token-array front (`_token_arrays`) instead.
    TextAnalyzer's whole pipeline (accent fold, lowercase,
    delimiter split, stopword gaps, Porter stem) has exact Python
    equivalents — the Arrow tokenizer already runs the same `re` split."""
    if type(analyzer) is not TextAnalyzer:
        return None
    return {
        "delim": analyzer.delim_regex,
        "stop": frozenset(analyzer.stopwords),
        "lower": analyzer.lowercase,
        "stem": analyzer.stem,
        "accent": analyzer.accent_fold,
    }


def _make_doc_packer(
    spec: dict,
    text_col: str,
    chunk_bits: int,
    with_positions: bool,
    with_offsets: bool = False,
    payload_fn=None,
):
    """mapInPandas kernel, the doc packer's text front: docs (doc_id, text)
    -> `_invert`'s partial posting rows, one per (term, chunk) per input
    batch, plus one doclen row (term=NULL) per batch carrying (doc_id, dl)
    for every input doc — so the build needs exactly ONE tokenize pass
    (docmap reuses the doclen rows instead of re-tokenizing the corpus).
    with_offsets additionally records each occurrence's (char start,
    length) in the cased text — the highlighting half of the reference .pay
    stream — via delimiter-span tokenization.

    payload_fn (the generic payload half of .pay): a BATCH-vectorized
    callable (surface_tokens: object ndarray, starts: int64 ndarray,
    lens: int64 ndarray) -> sequence of bytes, called once per Arrow batch
    over the kept occurrences (the reference's token_stream payload
    attribute, emitted per position). Payload bytes ride a
    (varint length, raw bytes) stream pair per block."""
    import re as _re

    rx = _re.compile(spec["delim"])
    # Negated-char-class delimiters ("[^a-z0-9_]+") have an exact token
    # complement ("[a-z0-9_]+"): findall(token_rx) returns the identical
    # token sequence ~30% faster than split(delim)+filter (r5; measured
    # 1.22s -> 0.83s per 20k docs / 2.8M tokens). Anything else keeps the
    # general split path.
    _neg = _re.fullmatch(r"\[\^((?:[^\]\\]|\\.)+)\]\+", spec["delim"])
    tokrx = None
    if _neg and not _neg.group(1).startswith("^"):
        # A leading bare '^' in the captured content (e.g. '[^^abc]+') would
        # make the complement class '[^abc]+' NEGATED again, silently
        # inverting tokenization — fall back to the split path for those.
        try:
            tokrx = _re.compile(f"[{_neg.group(1)}]+")
        except _re.error:
            tokrx = None
    stop = spec["stop"]
    lower = spec["lower"]
    use_stem = spec["stem"]
    accent = spec["accent"]
    stem_memo: dict = {}

    if use_stem:
        from iresearch_spark.analysis.stemmer import porter_stem
    if accent:
        import unicodedata

        def _fold(t):
            return "".join(
                c for c in unicodedata.normalize("NFKD", t) if not unicodedata.combining(c)
            )

    with_spans = with_offsets or payload_fn is not None

    def fn(batches):
        from itertools import chain

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["doc_id"].to_numpy().astype(np.int64)
            texts = pdf[text_col]
            if accent:
                texts = texts.map(lambda x: _fold(x) if isinstance(x, str) else x)
            if lower:
                texts = texts.str.lower()
            if with_spans:
                # delimiter-span tokenize: tokens are the gaps between
                # delimiter matches, so spans come for free
                tok_lists = []
                span_st: list[int] = []
                span_ln: list[int] = []
                for x in texts:
                    if not isinstance(x, str):
                        tok_lists.append([])
                        continue
                    toks = []
                    prev = 0
                    for dm in rx.finditer(x):
                        s, e = dm.start(), dm.end()
                        if s > prev:
                            toks.append(x[prev:s])
                            span_st.append(prev)
                            span_ln.append(s - prev)
                        prev = max(e, prev)
                    if prev < len(x):
                        toks.append(x[prev:])
                        span_st.append(prev)
                        span_ln.append(len(x) - prev)
                    tok_lists.append(toks)
            elif tokrx is not None:
                tok_lists = [
                    tokrx.findall(x) if isinstance(x, str) else [] for x in texts
                ]
            else:
                tok_lists = [
                    [t for t in rx.split(x) if t] if isinstance(x, str) else []
                    for x in texts
                ]
            lens = np.fromiter((len(l) for l in tok_lists), dtype=np.int64, count=n)
            total = int(lens.sum())
            dl = np.zeros(n, dtype=np.int64)
            kdoc_idx = kpos = kcodes = np.zeros(0, dtype=np.int64)
            fterms = np.zeros(0, dtype=object)
            spans = pays = None
            if total:
                flat = np.fromiter(
                    chain.from_iterable(tok_lists), dtype=object, count=total
                )
                codes, uniq = pd.factorize(flat)
                uniq = np.asarray(uniq, dtype=object)
                keep_u = np.fromiter(
                    (t not in stop for t in uniq), dtype=bool, count=uniq.size
                )
                doc_idx = np.repeat(np.arange(n), lens)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                pos = np.arange(total, dtype=np.int64) - starts[doc_idx]
                keep = keep_u[codes]
                dl = np.bincount(doc_idx[keep], minlength=n).astype(np.int64)
                kdoc_idx = doc_idx[keep]
                kpos = pos[keep]
                kc0 = codes[keep]
                if with_spans:
                    kst = np.asarray(span_st, dtype=np.int64)[keep]
                    kln = np.asarray(span_ln, dtype=np.int64)[keep]
                    if with_offsets:
                        spans = (kst, kln)
                    if payload_fn is not None and kc0.size:
                        pays = payload_fn(flat[keep], kst, kln)
                if use_stem:
                    stemmed = np.empty(uniq.size, dtype=object)
                    for i, t in enumerate(uniq):
                        s = stem_memo.get(t)
                        if s is None:
                            s = stem_memo[t] = porter_stem(t)
                        stemmed[i] = s
                    remap, fterms = pd.factorize(stemmed)
                    fterms = np.asarray(fterms, dtype=object)
                    kcodes = remap[kc0]
                else:
                    kcodes = kc0
                    fterms = uniq
            yield _invert(
                ids, dl, kdoc_idx, kpos, kcodes, fterms, chunk_bits,
                with_positions, spans, pays,
            )

    return fn


def _deltas(v: np.ndarray, resets) -> np.ndarray:
    """Successive differences of `v` (int64), restarting from the value
    itself at `resets` (indices or a mask) and at index 0."""
    out = np.empty(v.size, dtype=np.int64)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    out[resets] = v[resets]
    return out


def _cut(buf: bytes, ends0: np.ndarray, starts, stops) -> list[bytes]:
    """Slices of an encoded stream between element boundaries: `ends0` is
    the stream's byte offset of every element (0 first)."""
    return [buf[ends0[s] : ends0[e]] for s, e in zip(starts, stops)]


def _invert(
    ids, dl, kdoc_idx, kpos, kcodes, fterms, chunk_bits, with_positions,
    spans=None, pays=None,
) -> pd.DataFrame:
    """The doc packer's inversion core, shared by both fronts: one input
    batch's kept tokens -> partial posting rows (`_PARTIAL_SCHEMA`), one per
    (term, chunk), plus the batch's doclen side-channel row.

    ids/dl: the batch's doc ids and emitted-token counts, one per doc (a
    doc with no kept token has dl 0). Kept tokens, in (doc, position)
    order: kdoc_idx (row of the doc in the batch), kpos (position), kcodes
    (index into the unique terms `fterms`). spans: the kept tokens'
    (char starts, lengths) for the offset stream; pays: their payload
    bytes."""
    out_frames = []
    if kcodes.size:
        kdocs = ids[kdoc_idx]
        kdl = dl[kdoc_idx]
        kchunk = kdocs >> chunk_bits
        order = np.argsort(kcodes, kind="stable")
        c = kcodes[order]
        d = kdocs[order]
        p = kpos[order]
        l = kdl[order]
        ch = kchunk[order]
        m = c.size
        gb = np.empty(m, dtype=bool)
        gb[0] = True
        gb[1:] = (c[1:] != c[:-1]) | (ch[1:] != ch[:-1])
        db = gb.copy()
        db[1:] |= d[1:] != d[:-1]
        doc_starts = np.flatnonzero(db)
        udocs = d[doc_starts]
        tf = np.diff(np.append(doc_starts, m)).astype(np.int64)
        udl = l[doc_starts]
        # group starts in unique-doc space and token space
        ug_starts = np.flatnonzero(gb[doc_starts])
        tok_g_starts = np.flatnonzero(gb)
        nu = udocs.size
        # doc deltas reset at group start (first doc absolute)
        docs_buf, docs_ends = varint_encode_offsets(_deltas(udocs, ug_starts))
        tfs_buf, tfs_ends = varint_encode_offsets(tf)
        dls_buf, dls_ends = varint_encode_offsets(udl)
        if with_positions:
            pos_buf, pos_ends = varint_encode_offsets(_deltas(p, db))
        if spans is not None:
            ovals = np.empty(2 * m, dtype=np.int64)
            ovals[0::2] = _deltas(spans[0][order], db)  # start delta resets per doc
            ovals[1::2] = spans[1][order]
            off_buf, off_ends = varint_encode_offsets(ovals)
            uo0 = np.concatenate(([0], off_ends))
        if pays is not None:
            # payloads arrive in kept-token order; reorder to token order
            pays = np.asarray(list(pays), dtype=object)[order]
            plens = np.fromiter((len(b) for b in pays), np.int64, count=m)
            paylen_buf, paylen_ends = varint_encode_offsets(plens)
            upl0 = np.concatenate(([0], paylen_ends))
            pay_bounds = np.concatenate(([0], np.cumsum(plens)))
            pay_all = b"".join(pays.tolist())
        ud0 = np.concatenate(([0], docs_ends))
        ut0 = np.concatenate(([0], tfs_ends))
        ul0 = np.concatenate(([0], dls_ends))
        if with_positions:
            up0 = np.concatenate(([0], pos_ends))
        g_doc_end = np.append(ug_starts[1:], nu)
        g_tok_end = np.append(tok_g_starts[1:], m)
        none = [None] * ug_starts.size
        out_frames.append(
            pd.DataFrame(
                {
                    "term": fterms[c[tok_g_starts]],
                    "_chunk": ch[tok_g_starts],
                    "first_doc": udocs[ug_starts],
                    "n_docs": (g_doc_end - ug_starts).astype(np.int32),
                    "n_tok": (g_tok_end - tok_g_starts).astype(np.int64),
                    "docs_bin": _cut(docs_buf, ud0, ug_starts, g_doc_end),
                    "tfs_bin": _cut(tfs_buf, ut0, ug_starts, g_doc_end),
                    "dls_bin": _cut(dls_buf, ul0, ug_starts, g_doc_end),
                    "pos_bin": (
                        _cut(pos_buf, up0, tok_g_starts, g_tok_end) if with_positions else none
                    ),
                    "off_bin": (
                        _cut(off_buf, uo0, 2 * tok_g_starts, 2 * g_tok_end)
                        if spans is not None
                        else none
                    ),
                    "paylen_bin": (
                        _cut(paylen_buf, upl0, tok_g_starts, g_tok_end) if pays is not None else none
                    ),
                    "pay_bin": (
                        _cut(pay_all, pay_bounds, tok_g_starts, g_tok_end) if pays is not None else none
                    ),
                }
            )
        )
    # doclen side-channel row: ALL docs of the batch (len 0 kept —
    # docmap needs them; doclen readers filter len > 0)
    sidx = np.argsort(ids, kind="stable")
    out_frames.append(
        pd.DataFrame(
            {
                "term": [None],
                "_chunk": [-1],
                "first_doc": [int(ids[sidx[0]])],
                "n_docs": np.array([ids.size], dtype=np.int32),
                "n_tok": np.array([0], dtype=np.int64),
                "docs_bin": [varint_encode(delta_encode(ids[sidx]))],
                "tfs_bin": [b""],
                "dls_bin": [varint_encode(dl[sidx])],
                "pos_bin": [None],
                "off_bin": [None],
                "paylen_bin": [None],
                "pay_bin": [None],
            }
        )
    )
    return pd.concat(out_frames, ignore_index=True)


def _make_token_array_packer(chunk_bits: int, with_positions: bool):
    """mapInPandas kernel, the doc packer's token-array front: per-doc rows
    (doc_id, dl, pos array, term array) — the kept tokens in position
    order, NULL arrays for docs without tokens — -> `_invert`'s partial
    rows. A term repeated at one position counts once per occurrence."""

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            terms = pdf["term"].to_numpy()
            lens = np.fromiter(
                (0 if t is None else len(t) for t in terms), dtype=np.int64, count=n
            )
            kdoc_idx = np.repeat(np.arange(n), lens)
            kpos = kcodes = np.zeros(0, dtype=np.int64)
            fterms = np.zeros(0, dtype=object)
            if kdoc_idx.size:
                has = lens > 0
                kcodes, fterms = pd.factorize(np.concatenate(terms[has].tolist()))
                fterms = np.asarray(fterms, dtype=object)
                kpos = np.concatenate(pdf["pos"].to_numpy()[has].tolist()).astype(np.int64)
            yield _invert(
                pdf["doc_id"].to_numpy().astype(np.int64),
                pdf["dl"].to_numpy().astype(np.int64),
                kdoc_idx, kpos, kcodes, fterms, chunk_bits, with_positions,
            )

    return fn


def _token_arrays(docs: DataFrame, analyzer: Analyzer, text_col: str) -> DataFrame:
    """docs (doc_id, text) -> the token-array front's input for a Catalyst
    analyzer: per doc, the kept tokens' raw positions and terms as two
    parallel arrays, and dl = their count. A NULL token is not a term and a
    NULL token array is a doc with no tokens (dl 0), as a NULL text is on
    the text front."""
    probe = F.col("term")
    if analyzer.map_term(probe) is not probe:
        raise ValueError(
            "a post-filter map_term needs a text_py_spec analyzer; "
            f"{analyzer.name!r} has none"
        )
    kept = F.filter(
        F.transform(
            analyzer.raw_tokens(F.col(text_col)),
            lambda t, i: F.struct(i.alias("pos"), t.alias("term")),
        ),
        lambda x: x["term"].isNotNull() & analyzer.keep(x["term"]),
    )
    return docs.select("doc_id", kept.alias("_k")).select(
        "doc_id",
        F.when(F.col("_k").isNull(), 0).otherwise(F.size("_k")).alias("dl"),
        F.col("_k.pos").alias("pos"),
        F.col("_k.term").alias("term"),
    )


def _merge_partial_arrays(
    terms, chunks, n_docs, docs_bins, tfs_bins, dls_bins, pos_bins,
    with_positions, off_bins=None, paylen_bins=None, pay_bins=None,
):
    """Decode a partition's partial rows (already sorted by (term, chunk,
    first_doc)) into global per-unique-doc arrays + group boundaries.
    Returns (docs, tfs, dls, pos_deltas, off_vals, paylens, pay_buf,
    grp_first_part, grp_doc_start, resorted)."""
    P = len(terms)
    doc_ends = np.cumsum(n_docs.astype(np.int64))
    doc_starts = doc_ends - n_docs
    total_docs = int(doc_ends[-1])
    ddeltas = varint_decode(b"".join(docs_bins))
    # segmented delta-decode: cumsum with reset at each partial start
    cs = np.cumsum(ddeltas.astype(np.int64))
    part_of_doc = np.repeat(np.arange(P), n_docs)
    base = cs[doc_starts] - ddeltas[doc_starts].astype(np.int64)
    docs = cs - base[part_of_doc]
    tfs = varint_decode(b"".join(tfs_bins)).astype(np.int64)
    dls = varint_decode(b"".join(dls_bins)).astype(np.int64)
    pos_deltas = (
        varint_decode(b"".join([b for b in pos_bins if b is not None]))
        if with_positions
        else None
    )
    off_vals = (
        varint_decode(b"".join([b for b in off_bins if b is not None]))
        if off_bins is not None
        else None
    )
    paylens = (
        varint_decode(
            b"".join([b for b in paylen_bins if b is not None])
        ).astype(np.int64)
        if paylen_bins is not None
        else None
    )
    pay_buf = (
        b"".join([b for b in pay_bins if b is not None])
        if pay_bins is not None
        else None
    )
    # group = run of partial rows with equal (term, chunk)
    gb_p = np.empty(P, dtype=bool)
    gb_p[0] = True
    if P > 1:
        gb_p[1:] = (terms[1:] != terms[:-1]) | (chunks[1:] != chunks[:-1])
    grp_first_part = np.flatnonzero(gb_p)
    grp_doc_start = doc_starts[grp_first_part]
    # Docs are normally already ascending within each group: each doc's
    # tokens live in exactly one map batch, batches hold contiguous doc
    # ranges (assign_doc_ids range-partitions), and partials sort by
    # first_doc. Verify cheaply; re-sort vectorized only if a caller fed
    # docs with interleaved ids.
    ok = True
    if total_docs > 1:
        asc = docs[1:] > docs[:-1]
        asc[grp_doc_start[1:] - 1] = True  # group boundaries exempt
        ok = bool(asc.all())
    if not ok:
        if paylens is not None:
            # interleaved-doc inputs never occur on the build path (batches
            # hold contiguous doc ranges); re-gathering variable-length
            # payload byte segments is not implemented for the fallback
            raise NotImplementedError(
                "payload streams require doc-contiguous partial inputs"
            )
        G = grp_first_part.size
        grp_sizes = np.diff(np.append(grp_doc_start, total_docs))
        grp_of_doc = np.repeat(np.arange(G), grp_sizes)
        perm = np.lexsort((docs, grp_of_doc))
        if with_positions or off_vals is not None:
            tok_off = np.concatenate(([0], np.cumsum(tfs)))
            tot = int(tok_off[-1])
            seg_lens = tfs[perm]
            new_off = np.concatenate(([0], np.cumsum(seg_lens)[:-1]))
            gather = np.repeat(tok_off[perm] - new_off, seg_lens) + np.arange(tot)
            if with_positions:
                pos_deltas = pos_deltas[gather]
            if off_vals is not None:
                off_vals = off_vals.reshape(-1, 2)[gather].ravel()
        docs = docs[perm]
        tfs = tfs[perm]
        dls = dls[perm]
    return (
        docs, tfs, dls, pos_deltas, off_vals, paylens, pay_buf,
        grp_first_part, grp_doc_start, not ok,
    )


def _make_partial_merger(
    block_size: int,
    chunk_bits: int,
    with_positions: bool,
    with_offsets: bool = False,
    with_payloads: bool = False,
):
    """mapInPandas kernel over partials sorted by (term, _chunk, first_doc):
    concatenates the partition, merges each (term, chunk) group's partials,
    and re-blocks at `block_size` docs. tf/pos/off bytes are SLICED from
    the concatenated input streams (values unchanged by re-blocking — only
    doc deltas need re-encoding, since delta resets move to block starts);
    the partials' dl values give each block's `min_dl` and are not
    written."""
    blocks_per_chunk = max(1, (1 << chunk_bits) // block_size)

    def fn(batches):
        cols: dict[str, list] = {k: [] for k in ("term", "_chunk", "n_docs", "n_tok", "docs_bin", "tfs_bin", "dls_bin", "pos_bin", "off_bin", "paylen_bin", "pay_bin")}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for k in cols:
                cols[k].append(pdf[k].to_numpy() if k in ("term", "_chunk", "n_docs", "n_tok") else list(pdf[k]))
        if not cols["term"] or sum(len(x) for x in cols["term"]) == 0:
            return
        terms = np.concatenate(cols["term"])
        chunks = np.concatenate(cols["_chunk"]).astype(np.int64)
        n_docs = np.concatenate(cols["n_docs"]).astype(np.int64)
        n_toks = np.concatenate(cols["n_tok"]).astype(np.int64)
        docs_bins = [b for lst in cols["docs_bin"] for b in lst]
        tfs_bins = [b for lst in cols["tfs_bin"] for b in lst]
        dls_bins = [b for lst in cols["dls_bin"] for b in lst]
        pos_bins = [b for lst in cols["pos_bin"] for b in lst]
        off_bins = [b for lst in cols["off_bin"] for b in lst] if with_offsets else None
        paylen_bins = [b for lst in cols["paylen_bin"] for b in lst] if with_payloads else None
        pay_bins = [b for lst in cols["pay_bin"] for b in lst] if with_payloads else None
        (
            docs, tfs, dls, pos_deltas, off_vals, paylens, pay_buf,
            grp_first_part, grp_doc_start, resorted,
        ) = _merge_partial_arrays(
            terms, chunks, n_docs, docs_bins, tfs_bins, dls_bins,
            pos_bins, with_positions, off_bins, paylen_bins, pay_bins,
        )
        G = grp_first_part.size
        total_docs = docs.size
        grp_doc_end = np.append(grp_doc_start[1:], total_docs)
        grp_sizes = grp_doc_end - grp_doc_start
        # blocks tile the unique-doc axis: group g -> ceil(m/block) blocks
        bpg = -(-grp_sizes // block_size)
        B = int(bpg.sum())
        gidx = np.repeat(np.arange(G), bpg)
        bpg_off = np.concatenate(([0], np.cumsum(bpg)[:-1]))
        intra = np.arange(B, dtype=np.int64) - bpg_off[gidx]
        bstart = grp_doc_start[gidx] + intra * block_size
        bend = np.minimum(bstart + block_size, grp_doc_end[gidx])
        # doc deltas with reset at block starts; encode once, slice per block
        docs_buf, docs_ends_b = varint_encode_offsets(_deltas(docs, bstart))
        d0 = np.concatenate(([0], docs_ends_b))
        # tf bytes: values unchanged by re-blocking -> slice the original
        # concatenated stream at element boundaries (re-encode only if the
        # rare doc re-sort fallback permuted the arrays)
        if resorted:
            tfs_buf, t_ends = varint_encode_offsets(tfs)
        else:
            tfs_buf = b"".join(tfs_bins)
            t_ends = np.cumsum(varint_byte_lens(tfs))
        t0 = np.concatenate(([0], t_ends))
        # per-block metadata (blocks tile [0, total_docs) contiguously)
        max_tf = np.maximum.reduceat(tfs, bstart)
        min_dl = np.minimum.reduceat(dls, bstart)
        sum_tf = np.add.reduceat(tfs, bstart)
        if with_positions or with_offsets or with_payloads:
            tok_off = np.concatenate(([0], np.cumsum(tfs)))
            tok_s, tok_e = tok_off[bstart], tok_off[bend]
        if with_positions:
            if resorted:
                pos_buf, p_ends = varint_encode_offsets(pos_deltas)
            else:
                pos_buf = b"".join([b for b in pos_bins if b is not None])
                p_ends = np.cumsum(varint_byte_lens(pos_deltas))
            p0 = np.concatenate(([0], p_ends))
        if with_offsets:
            if resorted:
                off_buf, o_ends = varint_encode_offsets(off_vals)
            else:
                off_buf = b"".join([b for b in off_bins if b is not None])
                o_ends = np.cumsum(varint_byte_lens(off_vals))
            o0 = np.concatenate(([0], o_ends))
        if with_payloads:
            # lengths and bytes are doc-keyed values unchanged by
            # re-blocking (resorted raises upstream): slice both streams
            # at token boundaries
            paylen_cat = b"".join([b for b in paylen_bins if b is not None])
            pl0 = np.concatenate(([0], np.cumsum(varint_byte_lens(paylens))))
            payb0 = np.concatenate(([0], np.cumsum(paylens)))
        block_id = chunks[grp_first_part][gidx] * blocks_per_chunk + intra
        out = pd.DataFrame(
            {
                "term": terms[grp_first_part][gidx],
                "block_id": block_id,
                "doc_count": (bend - bstart).astype(np.int32),
                "first_doc": docs[bstart],
                "max_tf": max_tf.astype(np.int32),
                "min_dl": min_dl.astype(np.int32),
                "sum_tf": sum_tf.astype(np.int64),
                "docs_bin": _cut(docs_buf, d0, bstart, bend),
                "tfs_bin": _cut(tfs_buf, t0, bstart, bend),
            }
        )
        if with_positions:
            out["pos_bin"] = _cut(pos_buf, p0, tok_s, tok_e)
        if with_offsets:
            out["off_bin"] = _cut(off_buf, o0, 2 * tok_s, 2 * tok_e)
        if with_payloads:
            out["paylen_bin"] = _cut(paylen_cat, pl0, tok_s, tok_e)
            out["pay_bin"] = _cut(pay_buf, payb0, tok_s, tok_e)
        # stream out in bounded slices (keeps Arrow batches reasonable)
        step = 65536
        for i in range(0, len(out), step):
            yield out.iloc[i : i + step]

    return fn


def pack_docs_combined(
    docs: DataFrame,
    analyzer: Analyzer,
    text_col: str = "content",
    block_size: int = BLOCK_SIZE,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    with_positions: bool = True,
    with_offsets: bool = False,
    payload_fn=None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Combiner build: docs -> (packed block rows, partials handle).

    The returned `partials` DataFrame (persisted by the caller) also carries
    the per-doc lengths as term=NULL rows — `doclen_from_partials` projects
    them back out, so build_segment tokenizes the corpus exactly once.
    A `text_py_spec` analyzer tokenizes inside the doc packer's text front;
    any other analyzer's Catalyst token arrays (`_token_arrays`) feed its
    token-array front. with_offsets adds the per-occurrence (char start,
    length) highlighting stream (`off_bin`); it and payload_fn need the
    text front's spans."""
    spec = text_py_spec(analyzer)
    if spec is not None:
        partials = docs.select("doc_id", text_col).mapInPandas(
            _make_doc_packer(
                spec, text_col, chunk_bits, with_positions, with_offsets, payload_fn
            ),
            _PARTIAL_SCHEMA,
        )
    elif with_offsets or payload_fn is not None:
        raise ValueError(
            "with_offsets / payload_fn require a text_py_spec analyzer; "
            "both need span-aware tokenization"
        )
    else:
        partials = _token_arrays(docs, analyzer, text_col).mapInPandas(
            _make_token_array_packer(chunk_bits, with_positions), _PARTIAL_SCHEMA
        )
    packed = merge_partials(
        partials, block_size, chunk_bits, with_positions, with_offsets,
        payload_fn is not None, num_partitions,
    )
    return packed, partials


def merge_partials(
    partials: DataFrame,
    block_size: int = BLOCK_SIZE,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    with_positions: bool = True,
    with_offsets: bool = False,
    with_payloads: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Doc-packer partials -> packed block rows: the one shuffle by
    (term, chunk), then `_make_partial_merger`. The doclen rows stay out."""
    n_part = num_partitions or partials.sparkSession.sparkContext.defaultParallelism
    post = (
        partials.where(F.col("term").isNotNull())
        .repartition(n_part, "term", "_chunk")
        .sortWithinPartitions("term", "_chunk", "first_doc")
    )
    return post.mapInPandas(
        _make_partial_merger(
            block_size, chunk_bits, with_positions, with_offsets, with_payloads
        ),
        packed_schema(with_positions, with_offsets, with_payloads),
    )


def packed_schema(
    with_positions: bool, with_offsets: bool = False, with_payloads: bool = False
) -> StructType:
    """Schema of a committed postings table (block rows). Doc lengths are
    not in it: they are the docmap's `len` (index/norms.py)."""
    out_fields = [
        StructField("term", StringType()),
        StructField("block_id", LongType()),
        StructField("doc_count", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", IntegerType()),
        StructField("sum_tf", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("tfs_bin", BinaryType()),
    ]
    if with_positions:
        out_fields.append(StructField("pos_bin", BinaryType()))
    if with_offsets:
        out_fields.append(StructField("off_bin", BinaryType()))
    if with_payloads:
        out_fields.append(StructField("paylen_bin", BinaryType()))
        out_fields.append(StructField("pay_bin", BinaryType()))
    return StructType(out_fields)


def decode_doclen(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids int64, lens int32) of a frame of the doc packer's doclen
    side-channel rows, in row order (each row's docs ascending)."""
    ids = varint_decode(b"".join(pdf["docs_bin"]))
    # segmented delta-decode across rows
    n_docs = pdf["n_docs"].to_numpy().astype(np.int64)
    ends = np.cumsum(n_docs)
    starts = ends - n_docs
    cs = np.cumsum(ids.astype(np.int64))
    base = cs[starts] - ids[starts].astype(np.int64)
    doc_ids = cs - base[np.repeat(np.arange(len(pdf)), n_docs)]
    lens = varint_decode(b"".join(pdf["dls_bin"])).astype(np.int32)
    return doc_ids, lens


def doclen_from_partials(partials: DataFrame) -> DataFrame:
    """(doc_id, len) for every input doc (len 0 included) from the doclen
    side-channel rows the doc packer emitted."""

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids, lens = decode_doclen(pdf)
            yield pd.DataFrame({"doc_id": doc_ids, "len": lens})

    return partials.where(F.col("term").isNull()).mapInPandas(
        fn,
        StructType(
            [StructField("doc_id", LongType()), StructField("len", IntegerType())]
        ),
    )


def tokenize_stream(
    docs: DataFrame,
    text_col: str = "content",
    analyzer=None,
    with_positions: bool = True,
) -> DataFrame:
    """docs -> token-level rows (doc_id, dl, term[, pos]) with stopword
    position gaps and post-filter term mapping (stemming): an analyzer's
    token stream as Catalyst rows, with no packing."""
    analyzer = analyzer or TextAnalyzer()
    raw = docs.select(
        F.col("doc_id"),
        analyzer.raw_tokens(F.col(text_col)).alias("_raw"),
    ).withColumn(
        "dl", F.size(F.filter("_raw", lambda t: analyzer.keep(t))).cast("int")
    )
    toks = raw.select(
        "doc_id", "dl", F.posexplode("_raw").alias("pos", "term")
    ).where(analyzer.keep(F.col("term")))
    toks = toks.withColumn("term", analyzer.map_term(F.col("term")))
    if with_positions:
        return toks.select("doc_id", "dl", "term", F.col("pos").cast("long").alias("pos"))
    return toks.select("doc_id", "dl", "term")


def term_stats_from_packed(packed: DataFrame) -> DataFrame:
    """Same stats derived from packed block metadata (doc_count / sum_tf
    per block) — lets the build aggregate stats from the (small) written
    postings table instead of re-scanning or caching the flat postings."""
    return packed.groupBy("term").agg(
        F.sum("doc_count").cast("long").alias("doc_freq"),
        F.sum("sum_tf").cast("long").alias("total_tf"),
    )
