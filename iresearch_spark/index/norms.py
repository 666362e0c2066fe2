"""Doc lengths ("norms") stored once per doc: a segment's docmap `len`.

The reference keeps each doc's length once, as the columnstore's `Norm2`
column (PAPER.md §1.1). Postings keep only the per-block `min_dl` that the
block-max WAND bounds need; every kernel that scores or re-blocks a
posting gathers its dl by doc id from a `Norms`:

- on the driver (the local query site, the local merge, a kernel called
  directly on an engine's `seg_base`), read from each segment's docmap
  with pyarrow (`docmap_lens`), once per segment and `Norms`;
- in a Spark task of a plan that already repartitions by (segment,
  chunk) (multi-leg queries, the merge), from norm rows (`norm_rows`):
  per docmap batch, one packed (doc ids, lens) row per (segment, chunk),
  unioned onto the blocks and sorted first in each group; the kernel
  moves them into its `Norms` (`take_norm_rows`);
- in a Spark task of a single-term plan, which has no exchange to ride,
  by the same docmap read in the task.

Nothing is broadcast: a `Norms` pickles as its loader, without the lens
it has read.

Postings written before norms moved out of them still carry a per-posting
`dls_bin`; no reader uses it, and a merge drops it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from iresearch_spark.index.codec import (
    binary_cells,
    delta_runs_decode,
    run_counts,
    varint_decode,
    varint_encode_offsets,
)

NORM_ROW_SCHEMA = StructType(
    [
        StructField("segment", StringType()),
        StructField("chunkid", LongType()),
        StructField("first_doc", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("dls_bin", BinaryType()),
    ]
)


def docmap_lens(root: str, seg: str) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids int64, lens) of segment `seg`'s docmap in the store at
    `root` (`functools.partial(docmap_lens, root)` is a picklable
    `Norms` loader)."""
    import os

    import pyarrow.dataset as pads

    path = os.path.join(root, "segments", seg, "docmap")
    t = pads.dataset(path, format="parquet").to_table(columns=["doc_id", "len"])
    return (
        t["doc_id"].to_numpy().astype(np.int64),
        t["len"].fill_null(0).to_numpy(zero_copy_only=False),
    )


class Norms:
    """segment -> doc lengths by segment-local doc id. Filled by `add`, or
    on first use of a segment by `loader(segment)` -> (ids, lens)."""

    def __init__(self, loader=None):
        self._loader = loader
        self._parts: dict[str, list] = {}
        self._tables: dict[str, tuple] = {}

    def __reduce__(self):
        return (Norms, (self._loader,))

    def add(self, seg: str, ids: np.ndarray, lens: np.ndarray) -> None:
        self._parts.setdefault(seg, []).append((ids, lens))
        self._tables.pop(seg, None)

    def of(self, seg: str, ids: np.ndarray) -> np.ndarray:
        """The lens of docs `ids` (int64) of segment `seg`."""
        t = self._tables.get(seg)
        if t is None:
            t = self._tables[seg] = self._table(seg)
        lo, sorted_ids, lens = t
        if sorted_ids is None:  # dense ids: direct index
            return lens[ids - lo]
        return lens[np.searchsorted(sorted_ids, ids)]

    def _table(self, seg: str) -> tuple:
        parts = self._parts.get(seg)
        if not parts:
            if self._loader is None:
                raise KeyError(f"no norms for segment {seg!r}")
            parts = self._parts[seg] = [self._loader(seg)]
        ids = np.concatenate([p[0] for p in parts]).astype(np.int64, copy=False)
        lens = np.concatenate([p[1] for p in parts])
        if ids.size > 1 and (ids[1:] < ids[:-1]).any():
            order = np.argsort(ids, kind="stable")
            ids, lens = ids[order], lens[order]
        lo = int(ids[0]) if ids.size else 0
        dense = not ids.size or int(ids[-1]) - lo + 1 == ids.size
        return lo, None if dense else ids, lens


def _binary_array(buf: bytes, ends: np.ndarray, starts: np.ndarray, stops: np.ndarray) -> pa.Array:
    """Binary cells of the runs [starts, stops) of values whose encodings
    end at byte `ends` of `buf`, as one Arrow array over `buf`."""
    e = np.append(0, ends)
    offs = e[np.append(starts, stops[-1:])].astype(np.int32)
    return pa.Array.from_buffers(pa.binary(), starts.size, [None, pa.py_buffer(offs), pa.py_buffer(buf)])


def norm_rows(docmap: DataFrame, chunk_bits: int) -> DataFrame:
    """Norm rows (`NORM_ROW_SCHEMA`) of a (segment, doc_id, len) frame:
    per input batch, one row per (segment, chunk) it holds, with the
    chunk's doc ids delta+varint packed as a block's `docs_bin` and their
    lens varint packed in `dls_bin`. A map-only Arrow kernel: a chunk
    spread over several batches gets several rows."""

    def fn(batches):
        for b in batches:
            if not b.num_rows:
                continue
            seg = pc.dictionary_encode(b.column("segment"))
            codes, uniq = seg.indices.to_numpy(), seg.dictionary
            ids = b.column("doc_id").to_numpy().astype(np.int64)
            lens = pc.fill_null(b.column("len"), 0).to_numpy().astype(np.int64)
            chunk = ids >> chunk_bits
            order = np.lexsort((ids, chunk, codes))
            codes, ids, lens, chunk = codes[order], ids[order], lens[order], chunk[order]
            new = np.ones(ids.size, dtype=bool)
            new[1:] = (codes[1:] != codes[:-1]) | (chunk[1:] != chunk[:-1])
            starts = np.flatnonzero(new)
            stops = np.append(starts[1:], ids.size)
            deltas = np.diff(ids, prepend=0)
            deltas[starts] = ids[starts]
            d_buf, d_ends = varint_encode_offsets(deltas)
            l_buf, l_ends = varint_encode_offsets(lens)
            yield pa.RecordBatch.from_arrays(
                [
                    uniq.take(pa.array(codes[starts])),
                    pa.array(chunk[starts]),
                    pa.array(ids[starts]),
                    _binary_array(d_buf, d_ends, starts, stops),
                    _binary_array(l_buf, l_ends, starts, stops),
                ],
                names=NORM_ROW_SCHEMA.names,
            )

    return docmap.select("segment", "doc_id", "len").mapInArrow(fn, NORM_ROW_SCHEMA)


def with_norm_rows(blocks: DataFrame, norms: DataFrame, chunk_bits: int, n_part: int) -> DataFrame:
    """`blocks` (segment, term, first_doc, ...) and `norms` (`norm_rows`
    of the same chunk_bits) in one frame, partitioned by (segment,
    chunkid) and sorted by (segment, chunkid, term, first_doc): a group's
    norm rows (term NULL) come before its blocks, and its blocks run in
    term order."""
    from pyspark.sql import functions as F

    rows = blocks.withColumn("chunkid", F.shiftright("first_doc", chunk_bits)).unionByName(
        norms, allowMissingColumns=True
    )
    return rows.repartition(n_part, "segment", "chunkid").sortWithinPartitions(
        "segment", "chunkid", "term", "first_doc"
    )


def take_norm_rows(batch, norms: Norms):
    """Move a kernel batch's norm rows (term NULL) into `norms`; returns
    the block rows. `batch` is a `pyarrow.RecordBatch`, or a pandas
    DataFrame (the merge kernel's)."""
    if "dls_bin" not in (batch.columns if isinstance(batch, pd.DataFrame) else batch.schema.names):
        return batch
    if isinstance(batch, pd.DataFrame):
        is_norm = batch["term"].isna().to_numpy()
        if is_norm.any():
            _add_norm_rows(pa.RecordBatch.from_pandas(batch.loc[is_norm, list(NORM_ROW_SCHEMA.names)], preserve_index=False), norms)
            return batch[~is_norm]
        return batch
    is_norm = batch.column("term").is_null()
    if not pc.any(is_norm).as_py():
        return batch
    _add_norm_rows(batch.filter(is_norm), norms)
    return batch.filter(pc.invert(is_norm))


def _add_norm_rows(nr: pa.RecordBatch, norms: Norms) -> None:
    u8, offs = binary_cells(nr.column("docs_bin"))
    u8 = u8[offs[0] : offs[-1]]
    counts = run_counts(u8, np.diff(offs))
    ids = delta_runs_decode(u8, counts)
    l8, loffs = binary_cells(nr.column("dls_bin"))
    lens = varint_decode(l8[loffs[0] : loffs[-1]])
    ends = np.cumsum(counts)
    for seg, s, e in zip(nr.column("segment").to_pylist(), ends - counts, ends):
        norms.add(seg, ids[s:e], lens[s:e])
