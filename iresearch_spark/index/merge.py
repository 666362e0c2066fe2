"""Segment consolidation: tiered candidate selection + k-way merge with
docID remapping.

Reference semantics (SURVEY.md §3.3): MergeWriter computes a per-reader
docID map — contiguous base offsets when no documents are masked, else a
dense renumbering of live docs (core/index/merge_writer.cpp:1449-1571) —
then re-emits postings through the normal format writer with remapped ids.
The r4 Spark restatement is JOIN-FREE: packed blocks become combiner
partials in one vectorized kernel (remap = base shift + binary search over
each segment's sorted inline tombstone array; tombstoned docs drop out
wholesale, so every per-doc byte stream re-encodes identically), and the
build's own sorted-stream merge kernel re-blocks them — the only shuffle
moves packed partial bytes, exactly like the build. The merged segment
replaces its members in one atomic manifest generation
(core/index/index_writer.cpp:1340-1650 consolidation commit reconciliation).

The tier policy re-expresses the reference's skew-scored tiered selection
(core/index/index_utils.cpp tier scoring: prefer merging many
similar-sized segments, floor tiny segments to a minimum effective size)
without copying its code: segments are bucketed by size tier and the
bucket with the most mergeable members wins.
"""

from __future__ import annotations

import logging
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iresearch_spark.index.build import (
    DEFAULT_CHUNK_BITS,
    pack_postings,
    term_stats_from_packed,
)
from iresearch_spark.index.codec import BLOCK_SIZE, varint_decode, varint_encode_offsets
from iresearch_spark.index import segments
from iresearch_spark.index.norms import Norms, norm_rows, take_norm_rows, with_norm_rows
from iresearch_spark.index.segments import (
    IndexStore,
    Manifest,
    SegmentMeta,
    _arrow_capped,
    _live_tombstone_col,
    live_tombstones,
)

FLAT_SCHEMA = StructType(
    [
        StructField("segment", StringType()),
        StructField("doc_id", LongType()),
        StructField("term", StringType()),
        StructField("tf", IntegerType()),
        StructField("positions", ArrayType(IntegerType())),
    ]
)


def _unpack_kernel(with_positions: bool):
    """Packed block rows -> flat (segment, doc_id, term, tf, positions).
    Doc lengths are not in the postings: join the docmap's `len`.

    Vectorized batch decode (the r3 itertuples + per-block list.extend loop
    was the slowest codec path in the repo — r3 VERDICT wrong-5/next-7):
    one segmented varint decode per stream per Arrow batch, doc ids by
    cumsum-with-reset, positions split at per-doc token boundaries."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            R = len(pdf)
            if R == 0:
                continue
            counts = pdf["doc_count"].to_numpy().astype(np.int64)
            bounds = np.concatenate(([0], np.cumsum(counts)))
            row_of_doc = np.repeat(np.arange(R), counts)
            ddeltas = varint_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
            cs = np.cumsum(ddeltas)
            starts = bounds[:-1]
            carry = cs[starts] - ddeltas[starts]  # cumsum reset per block
            docs = cs - carry[row_of_doc]
            tfs = varint_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
            if with_positions:
                pos_deltas = varint_decode(
                    b"".join(b for b in pdf["pos_bin"] if b is not None)
                ).astype(np.int64)
                tok_bounds = np.cumsum(tfs)
                doc_tok_start = np.concatenate(([0], tok_bounds[:-1]))
                pcs = np.cumsum(pos_deltas)
                pcarry = pcs[doc_tok_start] - pos_deltas[doc_tok_start]
                pos_abs = (pcs - np.repeat(pcarry, tfs)).astype(np.int32)
                plists = np.split(pos_abs, tok_bounds[:-1])
            else:
                plists = [None] * int(bounds[-1])
            yield pd.DataFrame(
                {
                    "segment": pdf["segment"].to_numpy()[row_of_doc],
                    "doc_id": docs,
                    "term": pdf["term"].to_numpy()[row_of_doc],
                    "tf": tfs.astype(np.int32),
                    "positions": plists,
                }
            )

    return kernel


def unpack_postings(blocks: DataFrame, with_positions: bool) -> DataFrame:
    return blocks.mapInPandas(_unpack_kernel(with_positions), FLAT_SCHEMA)


def _blocks_to_partials_kernel(
    shift_by_seg: dict[str, int],
    dels_by_seg: dict[str, np.ndarray],
    chunk_bits: int,
    with_positions: bool,
    with_offsets: bool,
    with_payloads: bool = False,
    norms: Norms | None = None,
):
    """Packed block rows (+ segment col) -> combiner-partial rows
    (build._PARTIAL_SCHEMA) with REMAPPED doc ids, tombstoned docs dropped,
    and runs split at new-chunk boundaries — the r4 merge path. Each
    doc's dl comes from the members' docmaps: `norms` on the driver, or in
    a Spark task the norm rows sorted ahead of each (segment, chunk)'s
    blocks (index/norms.py).

    Remap is join-free: new_doc = old + shift[segment] - |deleted < old|
    (binary search against the segment's sorted tombstone array), which
    equals build_doc_map's dense rank renumbering for dense per-segment id
    ranges (asserted by the caller). Whole docs drop out, so the per-doc
    tf/dl/pos/off value streams are unchanged — they re-encode to identical
    bytes — and only doc deltas are recomputed. The reference analogue is
    merge_writer's doc_id_map + re-emission through the normal postings
    writer (core/index/merge_writer.cpp:1449-1571)."""
    from iresearch_spark.index.build import _PARTIAL_SCHEMA

    col_order = [f.name for f in _PARTIAL_SCHEMA.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        doc_norms = Norms() if norms is None else norms
        for pdf in batches:
            pdf = take_norm_rows(pdf, doc_norms)
            R = len(pdf)
            if R == 0:
                continue
            counts = pdf["doc_count"].to_numpy().astype(np.int64)
            bounds = np.concatenate(([0], np.cumsum(counts)))
            D = int(bounds[-1])
            row_of_doc = np.repeat(np.arange(R), counts)
            ddeltas = varint_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
            cs = np.cumsum(ddeltas)
            starts = bounds[:-1]
            carry = cs[starts] - ddeltas[starts]
            docs = cs - carry[row_of_doc]
            tfs = varint_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
            seg_codes, seg_uniq = pd.factorize(pdf["segment"].to_numpy())
            seg_of_doc = seg_codes[row_of_doc]
            new_docs = np.empty(D, dtype=np.int64)
            dls = np.empty(D, dtype=np.int64)
            keep = np.ones(D, dtype=bool)
            for si, s in enumerate(seg_uniq):
                m = seg_of_doc == si
                d = docs[m]
                dls[m] = doc_norms.of(s, d)
                shift = shift_by_seg[s]
                dels = dels_by_seg.get(s)
                if dels is not None and dels.size:
                    below = np.searchsorted(dels, d, side="left")
                    hit = np.minimum(below, dels.size - 1)
                    keep[m] = ~((below < dels.size) & (dels[hit] == d))
                    new_docs[m] = d + shift - below
                else:
                    new_docs[m] = d + shift
            kdocs = new_docs[keep]
            K = kdocs.size
            if K == 0:
                continue
            ktfs = tfs[keep]
            kdls = dls[keep]
            krow = row_of_doc[keep]
            kchunk = kdocs >> chunk_bits
            rb = np.empty(K, dtype=bool)
            rb[0] = True
            rb[1:] = (krow[1:] != krow[:-1]) | (kchunk[1:] != kchunk[:-1])
            run_starts = np.flatnonzero(rb)
            run_ends = np.append(run_starts[1:], K)
            # doc deltas reset at run starts; encode once, slice per run
            ddelta_out = np.empty(K, dtype=np.int64)
            ddelta_out[0] = kdocs[0]
            np.subtract(kdocs[1:], kdocs[:-1], out=ddelta_out[1:])
            ddelta_out[run_starts] = kdocs[run_starts]
            docs_buf, d_ends = varint_encode_offsets(ddelta_out)
            d0 = np.concatenate(([0], d_ends))
            tfs_buf, t_ends = varint_encode_offsets(ktfs)
            t0 = np.concatenate(([0], t_ends))
            dls_buf, l_ends = varint_encode_offsets(kdls)
            l0 = np.concatenate(([0], l_ends))
            out = {
                "term": pdf["term"].to_numpy()[krow[run_starts]],
                "_chunk": kchunk[run_starts],
                "first_doc": kdocs[run_starts],
                "n_docs": (run_ends - run_starts).astype(np.int32),
                "n_tok": np.add.reduceat(ktfs, run_starts).astype(np.int64),
                "docs_bin": [docs_buf[d0[s] : d0[e]] for s, e in zip(run_starts, run_ends)],
                "tfs_bin": [tfs_buf[t0[s] : t0[e]] for s, e in zip(run_starts, run_ends)],
                "dls_bin": [dls_buf[l0[s] : l0[e]] for s, e in zip(run_starts, run_ends)],
            }
            if with_positions or with_offsets or with_payloads:
                tok_keep = np.repeat(keep, tfs)
                ktok = np.concatenate(([0], np.cumsum(ktfs)))
                rts, rte = ktok[run_starts], ktok[run_ends]
            if with_positions:
                # per-doc delta streams reset at doc start, so dropping
                # whole docs leaves kept docs' value streams unchanged
                pos_deltas = varint_decode(
                    b"".join(b for b in pdf["pos_bin"] if b is not None)
                ).astype(np.int64)
                pos_buf, p_ends = varint_encode_offsets(pos_deltas[tok_keep])
                p0 = np.concatenate(([0], p_ends))
                out["pos_bin"] = [pos_buf[p0[s] : p0[e]] for s, e in zip(rts, rte)]
            else:
                out["pos_bin"] = [None] * run_starts.size
            if with_offsets:
                off_vals = varint_decode(
                    b"".join(b for b in pdf["off_bin"] if b is not None)
                ).astype(np.int64)
                off_buf, o_ends = varint_encode_offsets(
                    off_vals.reshape(-1, 2)[tok_keep].ravel()
                )
                o0 = np.concatenate(([0], o_ends))
                out["off_bin"] = [off_buf[o0[2 * s] : o0[2 * e]] for s, e in zip(rts, rte)]
            else:
                out["off_bin"] = [None] * run_starts.size
            if with_payloads:
                # payload lengths (1 varint/occurrence) + raw bytes: keep
                # masks lift from occurrences to bytes via repeat(lengths)
                paylens = varint_decode(
                    b"".join(b for b in pdf["paylen_bin"] if b is not None)
                ).astype(np.int64)
                kp = paylens[tok_keep]
                paylen_buf, ple = varint_encode_offsets(kp)
                pl0 = np.concatenate(([0], ple))
                pay_all = b"".join(b for b in pdf["pay_bin"] if b is not None)
                byte_keep = np.repeat(tok_keep, paylens)
                pay_kept = np.frombuffer(pay_all, dtype=np.uint8)[byte_keep].tobytes()
                kb0 = np.concatenate(([0], np.cumsum(kp)))
                out["paylen_bin"] = [
                    paylen_buf[pl0[s] : pl0[e]] for s, e in zip(rts, rte)
                ]
                out["pay_bin"] = [pay_kept[kb0[s] : kb0[e]] for s, e in zip(rts, rte)]
            else:
                out["paylen_bin"] = [None] * run_starts.size
                out["pay_bin"] = [None] * run_starts.size
            yield pd.DataFrame(out)[col_order]

    return kernel


def build_doc_map(
    spark: SparkSession,
    store: IndexStore,
    seg_names: list[str],
    tombstones: DataFrame | None = None,
    aggs: dict | None = None,
) -> DataFrame:
    """(segment, doc_id, len) -> new_doc.

    No tombstones: contiguous base offsets in member order (merge_writer
    base-id assignment). With tombstones: dense renumbering of live docs in
    (member order, old id) order via partition-local window — every group
    is one segment, so the window never sees more than one segment's rows.

    The doc universe is docmap (ALL assigned ids, including zero-token
    docs) — spacing by docs-with-field would collide gdoc ranges (see
    SegmentMeta.docs_total).
    """
    docs = store.read_union(spark, "docmap", seg_names).select("segment", "doc_id", "len")
    if tombstones is not None:
        tombstones = tombstones.where(F.col("segment").isin(seg_names))
        docs = docs.join(tombstones, ["segment", "doc_id"], "left_anti")
        # Dense renumber WITHOUT a per-segment window (r3; r2 VERDICT
        # next-6): row_number() OVER (PARTITION BY segment) serializes a
        # whole segment — 100M docs — into one task. Instead: range-
        # partition by (segment, doc_id), count rows per (partition,
        # segment) — a tiny aggregate — prefix-sum on the driver in
        # (segment base, partition order), then assign partition-locally.
        # Same pattern as build.assign_doc_ids.
        counts_rows = (
            docs.repartitionByRange(
                docs.sparkSession.sparkContext.defaultParallelism, "segment", "doc_id"
            )
            .withColumn("_pid", F.spark_partition_id())
        )
        keyed = counts_rows.persist()
        per_part = keyed.groupBy("_pid", "segment").agg(
            F.count("*").alias("cnt")
        ).collect()
        live_counts: dict[str, int] = {}
        for r in per_part:
            live_counts[r["segment"]] = live_counts.get(r["segment"], 0) + r["cnt"]
        seg_base, acc = {}, 1
        for s in seg_names:
            seg_base[s] = acc
            acc += live_counts.get(s, 0)
        from collections import defaultdict

        by_seg: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for r in per_part:
            by_seg[r["segment"]].append((r["_pid"], r["cnt"]))
        pid_seg_base: dict[tuple[int, str], int] = {}
        for seg, lst in by_seg.items():
            a = seg_base[seg]
            for pid, cnt in sorted(lst):
                pid_seg_base[(pid, seg)] = a
                a += cnt

        def assigner(batches):
            parts = [p for p in batches if len(p)]
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            pid = int(pdf["_pid"].iloc[0])
            pdf = pdf.sort_values(["segment", "doc_id"], kind="mergesort").reset_index(
                drop=True
            )
            segs = pdf["segment"].to_numpy()
            n = len(pdf)
            bnd = np.flatnonzero(
                np.concatenate(([True], segs[1:] != segs[:-1]))
            )
            runs = np.diff(np.append(bnd, n))
            local = np.arange(n, dtype=np.int64) - np.repeat(bnd, runs)
            bases = np.repeat(
                np.array(
                    [pid_seg_base[(pid, s)] for s in segs[bnd]], dtype=np.int64
                ),
                runs,
            )
            yield pd.DataFrame(
                {
                    "segment": pdf["segment"],
                    "doc_id": pdf["doc_id"],
                    "len": pdf["len"],
                    "new_doc": bases + local,
                }
            )

        out = keyed.mapInPandas(
            assigner,
            StructType(
                [
                    StructField("segment", StringType()),
                    StructField("doc_id", LongType()),
                    StructField("len", IntegerType()),
                    StructField("new_doc", LongType()),
                ]
            ),
        )
        out._ir_cached_input = keyed  # type: ignore[attr-defined]
        return out
    shifts = docmap_shift_spec(spark, store, seg_names, aggs)
    base_map = F.create_map(*[F.lit(x) for s, sh in shifts.items() for x in (s, sh)])
    return docs.withColumn("new_doc", F.col("doc_id") + base_map[F.col("segment")])


def docmap_aggs(spark: SparkSession, store: IndexStore, seg_names: list[str]) -> dict:
    """Per-segment docmap (n rows, min id, max id) — ONE tiny aggregate;
    the single source of truth both the docmap remap and the postings
    remap derive their base shifts from (they diverged in early r4 when
    the kernel spaced by manifest doc_span while build_doc_map counted
    docmap rows)."""
    return {
        r["segment"]: r
        for r in store.read_union(spark, "docmap", seg_names)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    }


def docmap_shift_spec(
    spark: SparkSession,
    store: IndexStore,
    seg_names: list[str],
    aggs: dict | None = None,
) -> dict[str, int]:
    """No-tombstone base shifts: new_doc = doc_id + shift[segment].
    Segments keep their internal ids; each segment's [lo, hi] id range is
    relocated after the previous one's, so merged ranges never overlap
    even for caller-supplied non-dense or 0-based ids (spacing by range
    WIDTH, not doc count). The first segment keeps its ids verbatim."""
    aggs = aggs or docmap_aggs(spark, store, seg_names)
    shifts: dict[str, int] = {}
    acc: int | None = None
    for s in seg_names:
        a = aggs.get(s)
        if a is None:  # no docmap rows: nothing to remap
            shifts[s] = 0
            continue
        if acc is None:
            acc = int(a["lo"])  # first segment: shift 0
        shifts[s] = acc - int(a["lo"])
        acc += int(a["hi"]) - int(a["lo"]) + 1
    return shifts


MERGE_INLINE_DELETES_MAX = 2_000_000

_log = logging.getLogger(__name__)


def merge_segments(
    spark: SparkSession,
    store: IndexStore,
    seg_names: list[str],
    new_name: str,
    tombstones: DataFrame | None = None,
    commit: bool = True,
    force_flat: bool = False,
) -> SegmentMeta:
    """K-way merge of member segments into one new segment.

    r4 plan shape: packed blocks -> remapped combiner partials (ONE
    vectorized kernel; the docID remap is join-free — base shift plus a
    binary search against each segment's sorted inline tombstone array) ->
    the same sorted-stream merge kernel the combiner build uses
    (build._make_partial_merger), which re-blocks at 128 docs by slicing
    the already-encoded tf/pos/off byte streams. Postings never explode
    to rows and never join doc_map: the only shuffle moves packed partial
    bytes (~1 B/posting), exactly like the build. Offsets segments
    (`off_bin`) merge losslessly (the r3 flat path dropped the
    highlighting stream — r3 ADVICE).

    The tombstones (default: the store's, read with pyarrow; a caller's
    frame in one capped collect) ride in the kernel up to
    MERGE_INLINE_DELETES_MAX. Two sites run that inline path with the same
    kernels and the same tables: when the members' postings and docmap
    footers hold at most `segments.LOCAL_BUILD_MAX_BYTES` uncompressed and
    every member's id range is dense, the merge runs on the driver
    (`_merge_local`: no Spark job, tables written with pyarrow — the
    reference's in-process merge); otherwise as Spark jobs. The site, the
    footer bytes and the cap go to one DEBUG log line.

    Fallback (tombstone sets beyond MERGE_INLINE_DELETES_MAX, members
    with non-dense id ranges under tombstones where the rank formula
    doesn't hold, or `force_flat`): the flat unpack -> doc_map join ->
    pack_postings pipeline on Spark. Offsets segments refuse the fallback
    with a clear error instead of silently dropping the stream."""
    import pyarrow as pa
    import pyarrow.compute as pc

    manifest = store.current()
    by_name = {s.name: s for s in manifest.segments}
    assert all(s in by_name for s in seg_names), "unknown segment in merge set"
    seg_names = sorted(seg_names, key=lambda s: manifest.segments.index(by_name[s]))

    def tomb_df():
        # caller-supplied masks may cover segments outside the merge set
        # (e.g. the store's whole delete table) — restrict first
        df = tombstones if tombstones is not None else store.read_deletes(spark)
        return df.where(F.col("segment").isin(seg_names))

    # the members' tombstones as Arrow, or None over the inline cap
    dels, n_del = (None, -1) if tombstones is not None else store.deletes_table(
        manifest, max_rows=MERGE_INLINE_DELETES_MAX
    )
    has_dels = n_del != 0
    if has_dels:
        if dels is None:
            dels = _arrow_capped(tomb_df().select("segment", "doc_id"), MERGE_INLINE_DELETES_MAX)
        if dels is not None:
            dels = dels.filter(pc.is_in(dels["segment"], value_set=pa.array(seg_names, pa.string())))
            has_dels = dels.num_rows > 0

    # parquet-footer schema probe (pyarrow) instead of one spark.read per
    # segment: 10-way merges paid ~10 file-listing + schema-inference
    # round-trips just to learn column sets (r7; guide §1.2 fixed-overhead)
    seg_cols = {s: store.table_columns(spark, s, "postings") for s in seg_names}
    seg_has_pos = {s: "pos_bin" in c for s, c in seg_cols.items()}
    seg_has_off = {s: "off_bin" in c for s, c in seg_cols.items()}
    seg_has_pay = {s: "pay_bin" in c for s, c in seg_cols.items()}
    with_positions = all(seg_has_pos.values())
    with_offsets = all(seg_has_off.values())
    with_payloads = all(seg_has_pay.values())
    for label, has in (
        ("with_positions", seg_has_pos),
        ("with_offsets", seg_has_off),
        ("payload", seg_has_pay),
    ):
        if any(has.values()) and not all(has.values()):
            raise ValueError(
                f"cannot merge a mix of {label} and plain segments ({has}): "
                "the merged segment would lose the stream for some docs; "
                "rebuild members consistently or merge like with like"
            )

    # ---- docmap aggregates computed ONCE (r7 — build_doc_map previously
    # recomputed them internally, doubling the aggregate job), and taken
    # from the MANIFEST when every member records its id range (SegmentMeta
    # docs_total/min_doc/max_doc are exactly docmap's count/min/max — the
    # aggregate job is redundant for post-r4 segments); the remap spec and
    # the doc-map derive from the SAME numbers, so postings and docmap can
    # never disagree ----
    metas = [by_name[s] for s in seg_names]
    if all(m.max_doc >= m.min_doc and m.max_doc >= 0 for m in metas if m.docs_total):
        aggs = {
            m.name: {"n": m.docs_total, "lo": m.min_doc, "hi": m.max_doc}
            for m in metas
            if m.docs_total
        }
    else:
        aggs = docmap_aggs(spark, store, seg_names)
    # dense-rank remap needs dense per-segment id ranges (ids are dense for
    # every assign_doc_ids build; caller ids may not be)
    dense = all(
        s in aggs and aggs[s]["hi"] - aggs[s]["lo"] + 1 == aggs[s]["n"] for s in seg_names
    )
    # force_flat exists to BENCHMARK the legacy flat pipeline against the
    # packed path on identical inputs (bench.py merge_10seg_flat); it is
    # never the production choice
    inline = not force_flat and (not has_dels or (dels is not None and dense))
    dels_by_seg: dict[str, np.ndarray] = {}
    shift_by_seg: dict[str, int] = {}
    if inline and has_dels:
        for s, d in dels.to_pandas().groupby("segment")["doc_id"]:
            # clip tombstones to each segment's id range so live counts
            # match build_doc_map's anti-join exactly
            a, d = aggs[s], np.unique(d.to_numpy(np.int64))
            dels_by_seg[s] = d[(d >= a["lo"]) & (d <= a["hi"])]
        acc = 1  # dense 1-based renumber (build_doc_map parity)
        for s in seg_names:
            a = aggs[s]
            shift_by_seg[s] = acc - a["lo"]
            acc += a["n"] - dels_by_seg.get(s, np.empty(0)).size
    else:
        shift_by_seg = docmap_shift_spec(spark, store, seg_names, aggs)

    footer = segments._uncompressed_bytes(
        f for s in seg_names for t in ("postings", "docmap")
        for f in segments._parquet_files(store.seg_path(s, t))
    )
    cap = segments.LOCAL_BUILD_MAX_BYTES
    local = inline and dense and footer <= cap
    if _log.isEnabledFor(logging.DEBUG):
        _log.debug(
            "merge_segments %s: site=%s footer_bytes=%s cap=%s",
            new_name, "local" if local else "spark", footer, cap,
        )
    streams = (with_positions, with_offsets, with_payloads)
    if local:
        agg = _merge_local(store, seg_names, new_name, shift_by_seg, dels_by_seg, has_dels, *streams)
    else:
        agg = _merge_spark(
            spark, store, seg_names, new_name, tomb_df() if has_dels else None, aggs,
            inline, shift_by_seg, dels_by_seg, *streams,
        )
    meta = segments._segment_meta(store, new_name, agg)
    if commit:
        m = store.current()
        kept = [s for s in m.segments if s.name not in seg_names and s.name != new_name]
        m.segments = kept + [meta]
        m.gen += 1
        # merged members' tombstones were applied physically above
        store.rewrite_deletes_after_merge(spark, m, seg_names)
        store.commit(m)
    return meta


def _block_cols(with_positions: bool, with_offsets: bool, with_payloads: bool) -> list[str]:
    """The postings columns `_blocks_to_partials_kernel` reads."""
    cols = ["term", "doc_count", "docs_bin", "tfs_bin"]
    if with_positions:
        cols.append("pos_bin")
    if with_offsets:
        cols.append("off_bin")
    if with_payloads:
        cols.extend(["paylen_bin", "pay_bin"])
    return cols


def _merge_local(
    store, seg_names, new_name, shift_by_seg, dels_by_seg, has_dels,
    with_positions, with_offsets, with_payloads,
) -> dict:
    """merge_segments' driver-local site: the Spark site's inline path on
    one in-process partition, with no Spark job; returns the docmap
    aggregates.

    The members' blocks (read with pyarrow) go through the unchanged
    `_blocks_to_partials_kernel`, with dl from the members' docmaps, and
    `_make_partial_merger` (`segments._local_postings`, as the local
    build). The docmap takes the kernel's remap (base shift, minus the
    tombstones below, tombstoned docs dropped) with the Spark site's doc_id
    type; lineage sums and XORs the members' rows per part in numpy. All
    four tables are written with `segments._write_table`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    def read(s, table, columns=None):
        return pads.dataset(store.seg_path(s, table), format="parquet").to_table(columns=columns)

    streams = (with_positions, with_offsets, with_payloads)
    members = {s: read(s, "docmap") for s in seg_names}
    norms = Norms()
    for s, t in members.items():
        norms.add(s, t["doc_id"].to_numpy().astype(np.int64), t["len"].fill_null(0).to_numpy(zero_copy_only=False))
    blocks = pd.concat(
        [read(s, "postings", _block_cols(*streams)).to_pandas().assign(segment=s) for s in seg_names],
        ignore_index=True,
    )
    kernel = _blocks_to_partials_kernel(shift_by_seg, dels_by_seg, DEFAULT_CHUNK_BITS, *streams, norms=norms)
    parts = list(kernel(iter([blocks])))
    postings = segments._local_postings(pd.concat(parts, ignore_index=True) if parts else None, *streams)

    docmaps, fields, id_types = [], {}, set()
    for s, t in members.items():
        sch = segments._footer_schema(store.seg_path(s, "docmap"))
        id_types.add(sch["doc_id"].dataType)
        fields.update({f.name: f for f in sch if f.name not in fields and f.name != "doc_id"})
        ids = t["doc_id"].to_numpy().astype(np.int64)
        d = dels_by_seg.get(s, np.empty(0, dtype=np.int64))
        new_ids = pa.array(ids + shift_by_seg[s] - np.searchsorted(d, ids))
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", new_ids)
        docmaps.append(t.filter(pa.array(~np.isin(ids, d))))
    docmap = pa.concat_tables(docmaps, promote_options="default").sort_by("doc_id")
    # the Spark site's doc_id type: member ids plus an int literal shift
    # without tombstones (int when both are ints), the renumbering's long
    # with them
    i32 = np.iinfo(np.int32)
    int_ids = not has_dels and id_types == {IntegerType()} and all(
        i32.min <= v <= i32.max for v in shift_by_seg.values()
    )
    fields["doc_id"] = StructField("doc_id", IntegerType() if int_ids else LongType())

    lin = pa.concat_tables([read(s, "lineage") for s in seg_names], promote_options="default")
    longs = lambda c: c.to_numpy(zero_copy_only=False).astype(np.int64)  # noqa: E731
    lineage = segments._lineage_rows(
        longs(lin["part"]), longs(lin["doc_count"]), longs(pc.fill_null(lin["bytes"], 0)),
        pc.is_valid(lin["bytes"]).to_numpy(zero_copy_only=False), longs(lin["input_hash"]),
    )
    tables = {
        "postings": postings,
        "term_stats": segments._local_term_stats(postings[0]),
        "docmap": (docmap, StructType(list(fields.values()))),
        "lineage": (lineage, segments.LINEAGE_SCHEMA),
    }
    for table, (t, sch) in tables.items():
        segments._write_table(store.seg_path(new_name, table), t, sch, term_groups=table == "postings")
    lens = docmap["len"].fill_null(0).to_numpy(zero_copy_only=False)
    return segments._local_aggs(docmap["doc_id"].to_numpy(), lens)


def _merge_spark(
    spark, store, seg_names, new_name, tombstones, aggs, inline, shift_by_seg, dels_by_seg,
    with_positions, with_offsets, with_payloads,
) -> dict:
    """merge_segments' Spark site (the inline kernel path or the flat
    fallback); returns the docmap aggregates."""
    from iresearch_spark.index.build import _PARTIAL_SCHEMA, _make_partial_merger, packed_schema

    # with no tombstones the doc map is a pure base-shift expression —
    # materializing + joining it is a full shuffle of every docmap row for
    # what a create_map projection computes inline (r7; guide §2.4);
    # doc_map stays None and the docmap write below shifts directly
    doc_map = (
        build_doc_map(spark, store, seg_names, tombstones, aggs).persist()
        if tombstones is not None
        else None
    )
    blocks = store.read_union(spark, "postings", seg_names)
    n_part = spark.sparkContext.defaultParallelism
    if inline:
        # each (segment, chunk)'s blocks meet the norm rows of its docmap
        blocks = with_norm_rows(
            blocks.select("segment", "first_doc", *_block_cols(with_positions, with_offsets, with_payloads)),
            norm_rows(store.read_union(spark, "docmap", seg_names), DEFAULT_CHUNK_BITS),
            DEFAULT_CHUNK_BITS,
            n_part,
        )
        partials = blocks.mapInPandas(
            _blocks_to_partials_kernel(
                shift_by_seg,
                dels_by_seg,
                DEFAULT_CHUNK_BITS,
                with_positions,
                with_offsets,
                with_payloads,
            ),
            _PARTIAL_SCHEMA,
        )
        packed = (
            partials.repartition(n_part, "term", "_chunk")
            .sortWithinPartitions("term", "_chunk", "first_doc")
            .mapInPandas(
                _make_partial_merger(
                    BLOCK_SIZE, DEFAULT_CHUNK_BITS, with_positions, with_offsets,
                    with_payloads,
                ),
                packed_schema(with_positions, with_offsets, with_payloads),
            )
        )
    else:
        if with_offsets or with_payloads:
            raise ValueError(
                "offsets/payload merge requires the inline remap path "
                f"(tombstone set exceeds {MERGE_INLINE_DELETES_MAX} or member "
                "id ranges are not dense); split the merge or compact "
                "tombstones first"
            )
        if doc_map is None:  # flat path keeps its join-based remap
            doc_map = build_doc_map(spark, store, seg_names, None, aggs).persist()
        flat = (
            unpack_postings(blocks, with_positions)
            .join(doc_map, ["segment", "doc_id"])
            .select(
                F.col("new_doc").alias("doc_id"),
                F.col("len").alias("dl"),
                "term",
                "tf",
                *(["positions"] if with_positions else []),
            )
        )
        packed = pack_postings(flat, with_positions=with_positions, num_partitions=n_part)

    segments.write_postings(packed, store.seg_path(new_name, "postings"))
    packed_disk = spark.read.parquet(store.seg_path(new_name, "postings"))

    def _write_term_stats():
        term_stats_from_packed(packed_disk).repartition(
            max(1, n_part // 4), "term"
        ).sortWithinPartitions("term").write.mode("overwrite").parquet(
            store.seg_path(new_name, "term_stats")
        )

    # docmap: source identity (and `len` -> the doclen projection) follows
    # the docID remap; no separate doclen table is written (store.read
    # projects doclen out of docmap, exactly like built segments)
    docmaps = store.read_union(spark, "docmap", seg_names)
    keep_cols = [c for c in docmaps.columns if c not in ("doc_id", "segment")]
    if doc_map is None:
        # no tombstones: identical output to the join (new_doc = doc_id +
        # shift[segment]) without shuffling the docmap
        base_map = F.create_map(
            *[F.lit(x) for s, sh in shift_by_seg.items() for x in (s, sh)]
        )
        new_docmap = docmaps.select(
            *keep_cols,
            (F.col("doc_id") + base_map[F.col("segment")]).alias("doc_id"),
        )
    else:
        new_docmap = docmaps.join(doc_map.select("segment", "doc_id", "new_doc"), ["segment", "doc_id"]).select(
            *keep_cols, F.col("new_doc").alias("doc_id")
        )

    def _write_docmap():
        segments._sized_for_write(
            new_docmap, sum(a["n"] for a in aggs.values())
        ).write.mode("overwrite").parquet(store.seg_path(new_name, "docmap"))

    def _write_lineage():
        # lineage: XOR-combine member partitions (XOR of XORs = union hash)
        store.read_union(spark, "lineage", seg_names).groupBy("part").agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("bytes").alias("bytes"),
            F.expr("bit_xor(input_hash)").alias("input_hash"),
        ).coalesce(1).write.mode("overwrite").parquet(
            store.seg_path(new_name, "lineage")
        )

    # independent side tables overlap from driver threads (guide §2.6),
    # same as build_segment
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fu in [
            pool.submit(f) for f in (_write_term_stats, _write_docmap, _write_lineage)
        ]:
            fu.result()

    agg = segments._docmap_aggs(store.read(spark, new_name, "docmap"))
    if doc_map is not None:
        doc_map.unpersist()
        inner = getattr(doc_map, "_ir_cached_input", None)
        if inner is not None:  # tombstone-path range-partition cache (r3 ADVICE leak)
            inner.unpersist()
    return agg


# ---------------------------------------------------------------------------
# Tiered consolidation policy
# ---------------------------------------------------------------------------

_TINY = 2.2250738585072014e-308  # smallest positive normal double (DBL_MIN)


def _tier_score(
    count: int,
    floored_sizes: list[int],
    size_after: int,
    size_before: int,
    segments_per_tier: int,
    any_removals: bool,
) -> float:
    """The reference tier scoring function, re-expressed
    (core/utils/index_utils.cpp:95-168 `consolidation_score`):

      score = (1 - cv(floored sizes))                 # skew penalty
            * (count / segments_per_tier)^1.5         # favor full tiers
            / size_after^0.5                          # prefer small merges
            / (size_after / size_before)^2            # favor removal cleanup

    where sizes are deletion-discounted byte sizes floored at
    floor_segment_bytes, size_before uses raw byte sizes. Singletons score
    effectively-never (DBL_MIN; +epsilon when they carry removals, so a
    dirty singleton is merged only when nothing better exists)."""
    if count == 0:
        return float("-inf")
    if count == 1:
        return _TINY * 2 if any_removals else float("-inf")
    mean = size_after and (sum(floored_sizes) / count)
    var = sum((f - mean) ** 2 for f in floored_sizes) / count
    cv = math.sqrt(var) / mean if mean else 0.0
    score = 1.0 - cv
    score *= (count / segments_per_tier) ** 1.5
    score /= size_after**0.5
    score /= (size_after / size_before) ** 2
    return score


def tier_candidates(
    manifest: Manifest,
    live_docs: dict[str, int] | None = None,
    min_segments: int = 1,
    max_segments: int = 10,
    floor_bytes: int = 2 << 20,
    max_merge_bytes: int = 5 << 30,
    min_score: float = 0.0,
    consolidating: frozenset[str] = frozenset(),
) -> list[str]:
    """Pick the best merge candidate set, mirroring the reference tier
    policy end to end (core/utils/index_utils.cpp:300-470 MakePolicy
    ConsolidateTier; defaults from index_utils.hpp:73-81):

    1. drop empty / already-consolidating segments;
    2. drop "too big" segments (deletion-discounted size >
       max_merge_bytes/2 with fill factor >= the index average);
    3. sort by (discounted size asc, fill desc, name asc);
    4. slide every [i, i+n] window (n <= max_segments, window discounted
       bytes <= max_merge_bytes), score with `_tier_score`, keep the best
       above min_score.

    `live_docs` maps segment name -> live doc count (docs minus queued
    tombstones); defaults to all-live."""
    live_docs = live_docs or {}
    stats: list[tuple[str, int, float, int]] = []  # (name, size, fill, raw)
    total_docs = total_live = 0
    for s in manifest.segments:
        docs = s.doc_span
        live = live_docs.get(s.name, docs)
        if live <= 0:
            continue  # empty segments are dropped by commit, not merged
        fill = live / docs
        size = int(s.bytes * fill)
        total_live += live
        if s.name in consolidating:
            total_docs += live  # removals excluded for in-flight segments
            continue
        total_docs += docs
        stats.append((s.name, size, fill, s.bytes))
    if not total_docs:
        return []
    total_fill = total_live / total_docs
    too_big = max(1, max_merge_bytes) // 2
    stats = [st for st in stats if not (st[1] > too_big and total_fill <= st[2])]
    stats.sort(key=lambda st: (st[1], -st[2], st[0]))

    min_segments = max(1, min(min_segments, max(1, max_segments)))
    max_segments = max(1, max_segments)
    floor_bytes = max(1, floor_bytes)
    best_score, best = _TINY, []  # DBL_MIN init: bare singletons never win
    if len(stats) >= min_segments:
        for i in range(len(stats)):
            size_after = size_before = 0
            floored: list[int] = []
            any_removals = False
            for j in range(i, min(i + max_segments, len(stats))):
                name, size, fill, raw = stats[j]
                if size_after + size > max_merge_bytes:
                    break
                size_after += size
                size_before += raw
                floored.append(max(size, floor_bytes))
                any_removals = any_removals or fill < 1.0
                count = j - i + 1
                if count < min_segments:
                    continue
                score = _tier_score(
                    count, floored, size_after, size_before, max_segments, any_removals
                )
                if score < min_score:
                    continue
                if score > best_score:
                    best_score = score
                    best = [st[0] for st in stats[i : j + 1]]
    return best


def consolidate(
    spark: SparkSession, store: IndexStore, new_name: str | None = None, **policy_kw
) -> SegmentMeta | None:
    """One consolidation round: policy -> merge -> commit. Queued live
    deletes feed the policy's fill factors (dirty segments score higher via
    the removal-cleanup term) and are physically dropped by the merge.
    The per-segment tombstone counts come from the pyarrow-read table (no
    Spark job) up to MERGE_INLINE_DELETES_MAX, so a small index
    consolidates without a job when `merge_segments` runs on the driver."""
    m = store.current()
    live = None
    dels, n_del = store.deletes_table(m, max_rows=MERGE_INLINE_DELETES_MAX)
    if n_del:
        if dels is not None:
            names, n = np.unique(live_tombstones(m.segments, dels)[0]["segment"], return_counts=True)
            counts = dict(zip(names, n.tolist()))
        else:  # over the inline cap: Spark counts them
            counts = {
                r["segment"]: r["n"]
                for r in store.read_deletes(spark).where(_live_tombstone_col(m.segments))
                .groupBy("segment").agg(F.count("*").alias("n")).collect()
            }
        live = {s.name: s.doc_span - counts.get(s.name, 0) for s in m.segments}
    cands = tier_candidates(m, live_docs=live, **policy_kw)
    if not cands:
        return None
    name = new_name or f"merged_{m.gen + 1}"
    return merge_segments(spark, store, cands, name)
