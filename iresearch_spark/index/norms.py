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
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from iresearch_spark.index.codec import delta_runs_decode, varint_counts, varint_decode, varint_encode_offsets

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


def norm_rows(docmap: DataFrame, chunk_bits: int) -> DataFrame:
    """Norm rows (`NORM_ROW_SCHEMA`) of a (segment, doc_id, len) frame:
    per input batch, one row per (segment, chunk) it holds, with the
    chunk's doc ids delta+varint packed as a block's `docs_bin` and their
    lens varint packed in `dls_bin`. A map-only kernel: a chunk spread
    over several batches gets several rows."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes, uniq = pd.factorize(pdf["segment"].to_numpy())
            ids = pdf["doc_id"].to_numpy().astype(np.int64)
            lens = pdf["len"].fillna(0).to_numpy().astype(np.int64)
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
            d0, l0 = np.append(0, d_ends), np.append(0, l_ends)
            yield pd.DataFrame(
                {
                    "segment": uniq[codes[starts]],
                    "chunkid": chunk[starts],
                    "first_doc": ids[starts],
                    "docs_bin": [d_buf[d0[s] : d0[e]] for s, e in zip(starts, stops)],
                    "dls_bin": [l_buf[l0[s] : l0[e]] for s, e in zip(starts, stops)],
                }
            )

    return docmap.select("segment", "doc_id", "len").mapInPandas(fn, NORM_ROW_SCHEMA)


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


def take_norm_rows(pdf: pd.DataFrame, norms: Norms) -> pd.DataFrame:
    """Move a kernel batch's norm rows (term NULL) into `norms`; returns
    the block rows."""
    if "dls_bin" not in pdf:
        return pdf
    is_norm = pdf["term"].isna().to_numpy()
    if not is_norm.any():
        return pdf
    nr = pdf[is_norm]
    u8, counts = varint_counts(nr["docs_bin"].tolist())
    ids = delta_runs_decode(u8, counts)
    lens = varint_decode(b"".join(nr["dls_bin"]))
    ends = np.cumsum(counts)
    for seg, s, e in zip(nr["segment"], ends - counts, ends):
        norms.add(seg, ids[s:e], lens[s:e])
    return pdf[~is_norm]
