"""Posting-block codec: delta + varint packing, vectorized in NumPy.

Re-expresses the reference's postings format (128-doc blocks, delta-encoded
docIDs, per-block metadata; reference core/formats/formats_10.cpp:90
kBlockSize=128, :865-891 doc-block flush, :676-711 varint tail) as
Arrow-friendly kernels used inside pandas UDFs. Unlike the reference we make
every block self-contained (first docID stored absolute, not relative to the
previous block) so blocks can be decoded independently on any executor —
the distributed analogue of skip-list random access.

Varint = LEB128 (7-bit groups, little-endian, high bit = continuation), the
same family the reference's `bytes_io::vwrite` uses. Encode/decode are
vectorized: the inner loop is over *byte position* (<=10), not over values.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128  # parity with reference formats_10.cpp:90


def varint_byte_lens(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized) — lets callers slice a
    previously encoded stream at element boundaries without re-encoding."""
    a = np.asarray(values, dtype=np.uint64)
    nb = np.ones(a.size, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += v > 0
        v >>= np.uint64(7)
    return nb


def varint_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode and also return the cumulative byte END offset of each
    element, so one global encode can be sliced per group:
    ``buf[ends[s-1] if s else 0 : ends[e-1]]`` == encode(values[s:e])."""
    a = np.asarray(values, dtype=np.uint64)
    n = a.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = varint_byte_lens(a)
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - nb
    for k in range(int(nb.max())):
        m = nb > k
        idx = starts[m] + k
        out[idx] = ((a[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        out[idx] |= ((nb[m] - 1 > k).astype(np.uint8)) << 7
    return out.tobytes(), ends


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array (vectorized)."""
    return varint_encode_offsets(values)[0]


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero(b < 128)[0]
    n = ends.size
    starts = np.concatenate(([0], ends[:-1] + 1))
    nb = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for k in range(int(nb.max())):
        m = nb > k
        vals[m] |= (b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """[5, 9, 12] -> [5, 4, 3]; first value absolute (self-contained block)."""
    a = np.asarray(sorted_vals, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


def delta_runs_decode(buf, counts: np.ndarray) -> np.ndarray:
    """Values (int64) of many concatenated delta+varint runs — doc blocks,
    or the per-doc position runs of a block group: one varint pass, the
    delta cumsum restarting at each run (`counts` values per run)."""
    ddeltas = varint_decode(buf).astype(np.int64)
    cs = np.cumsum(ddeltas)
    st = np.cumsum(counts) - counts
    return cs - np.repeat(cs[st] - ddeltas[st], counts)


def binary_cells(col) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, offsets) of an Arrow binary array: the column buffer as
    uint8, zero-copy, and the n+1 offsets of its cells into it (int64), so
    a run of cells is one slice."""
    n = len(col)
    _, offs, data = col.buffers()
    if not n or data is None:
        return np.empty(0, np.uint8), np.zeros(n + 1, np.int64)
    off_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    o = np.frombuffer(offs, dtype=off_t)[col.offset : col.offset + n + 1].astype(np.int64)
    return np.frombuffer(data, dtype=np.uint8), o


def run_counts(u8: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Values per varint stream of streams `lens` bytes long, back to back
    in `u8`: a value ends at a byte with the high bit clear."""
    ends = np.concatenate(([0], np.cumsum(u8 < 128)))
    stops = np.cumsum(lens)
    return ends[stops] - ends[stops - lens]


def pack_doc_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted docIDs, tfs) -> (docs_bin, tfs_bin).

    docIDs delta+varint; tfs varint (reference packs tf-1 into the freq
    stream with a freq==1 flag — we keep plain varint: 1-byte for tf<128,
    same asymptotics, simpler kernel).
    """
    return varint_encode(delta_encode(doc_ids)), varint_encode(tfs)


def unpack_doc_block(docs_bin: bytes, tfs_bin: bytes) -> tuple[np.ndarray, np.ndarray]:
    docs = delta_decode(varint_decode(docs_bin))
    tfs = varint_decode(tfs_bin)
    return docs, tfs


def pack_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Concatenated per-doc position-delta varints (doc boundaries are given
    by the block's tf values, exactly like the reference .pos stream whose
    per-doc run lengths come from the freq stream, formats_10.cpp:166-267).
    """
    if not positions_per_doc:
        return b""
    parts = [delta_encode(np.asarray(p, dtype=np.uint64)) for p in positions_per_doc]
    return varint_encode(np.concatenate(parts)) if parts else b""


def unpack_positions(pos_bin: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    flat = varint_decode(pos_bin)
    out: list[np.ndarray] = []
    off = 0
    for tf in np.asarray(tfs, dtype=np.int64):
        seg = flat[off : off + tf]
        out.append(np.cumsum(seg, dtype=np.uint64))
        off += int(tf)
    return out
