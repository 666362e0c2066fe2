"""Query execution: filter tree -> packed-postings kernels, on Spark or on
the driver.

Restates the reference's prepare/execute/iterate lifecycle (SURVEY.md §3.2):

  prepare   = tiny driver-side lookups on the (small) term dictionary,
              array-at-a-time, to expand multiterm leaves and compute
              per-term scoring constants (the reference's per-query
              "stats blob", core/search/bm25.cpp:366-410) as one array
              scorer per leaf, then ONE scan plan: the kernel closure plus
              the terms and columns it reads (`_sums_plan`). Every scan —
              term, multiterm, flat boolean or phrase-family, one query or
              `topk_batch`'s many — runs ONE Arrow-in/Arrow-out kernel
              (`_sums_kernel`: a leg table of (qid, scorer family, term
              code) per term and phrase legs, one decode per (segment,
              chunk) group, one pool per query); a single query is a
              batch of one;
  execute   = the plan runs at one of two sites, same kernel either way:
              - driver-local: when the plan is one scan (a term,
                vocab-cached multiterm, flat And/Or/min-match or phrase
                leaf — or `topk_batch`'s shared scan of many such
                queries), the tombstones ride in the kernel, and the
                fan-out-weighted scan estimate (sum over the scanned terms
                of doc_freq x the queries subscribed to the term) is at
                most `SearchEngine.LOCAL_MAX_POSTINGS`, the scan takes
                just those terms' row groups (picked by the term ranges of
                footers read once per engine) of each segment's
                term-sorted postings parquet from the engine's decoded
                postings cache — a byte-bounded LRU of (file, row group,
                column) columns and each group's sorted term index within
                `segments.LOCAL_BUILD_MAX_BYTES`, filled lazily: pyarrow
                reads only the pairs it lacks, and a cached group's term
                rows are found by `searchsorted` — the kernel runs
                in-process as one partition over the Arrow table, and
                the result answers collect() from numpy arrays — no Spark
                job and no JVM call, the reference's in-process walk
                over an mmapped / caching directory (PAPER.md §0, §1.1);
              - Spark (everything else): parquet scan with `term IN`
                pushdown -> (for multi-leg queries, with the docmap's
                norm rows) ONE repartition of the packed blocks by
                (segment, chunk) -> the kernel in mapInArrow, which
                unpacks delta+varint blocks,
                scores them, and reduces per-doc sums LOCALLY (a doc's
                postings for every query term live in the same chunk
                group, so no downstream groupBy shuffle exists at all);
                positions are read only for plans with a phrase leg, and
                shuffled only for the phrase terms' blocks;
  collect   = `ORDER BY score DESC, gdoc ASC LIMIT k` over the kernel's
              top-k survivors: np.lexsort / the kernel's per-query pools
              locally, TakeOrderedAndProject or a window on Spark (the
              reference's caller-side min-heap,
              utils/index-search.cpp:687-786). `topk` and `topk_batch`
              record the site they chose in `SearchEngine.last_run`.

The term dictionary ((term, doc_freq), sorted) is read from the segments'
term_stats parquet with pyarrow when it fits `VOCAB_CACHE_MAX`, so an
engine open plus a small query launches no Spark job at all.

Doc lengths (BM25's dl) are not in the postings: each is stored once, as
the segment's docmap `len`, and a kernel gathers them by doc id
(index/norms.py). On the driver they come from the engine's `seg_base`,
which carries the docmap lens read with pyarrow, once per segment and
engine snapshot. In a Spark task of a grouped plan they come from one
packed norm row per (segment, chunk) that the scan's repartition sorts
ahead of the chunk's blocks (built from the docmap on the first
grouped Spark-site scan and cached in Spark storage); a single-term
plan, which has no exchange, reads the docmap lens in its task. Nothing
is broadcast. Blocks keep `min_dl`, the WAND bound's norm.

Scale shape (the 100-TB argument): the only shuffle in the hot path moves
PACKED blocks of the matching terms (~1 byte/posting) and one norm row
per (segment, chunk), not exploded (doc, score) rows; single-term
queries skip even that. Block-max WAND
pruning (reference wanderator, core/formats/formats_10.cpp:2424-2579, and
block_disjunction, core/search/disjunction.hpp:866-1370) applies to term
AND flat boolean queries: per-partition threshold = k-th best per-doc SUM
seen so far; a block is skipped when its own (max_tf, min_dl) bound plus
the other legs' whole-list bounds cannot beat it. Skipping is safe for
kSum booleans: every doc in a skipped block has total score <= the bound
< threshold <= final k-th score, so it can neither enter the top-k nor
displace a survivor (its emitted partial sum only underestimates).

Tie-break parity: score desc, gdoc asc; pruning uses STRICT `<` so a block
that could tie the k-th score is never skipped (a tied doc with a smaller
gdoc must win — reference MinStrict/MinWeak handling,
formats_10.cpp:2434-2441; fixes the r1 `<=` skip bug).

Float semantics: kernels emit float64; in float32 mode (product path,
reference score_t parity) per-doc sums are float32-cast before
thresholding/ordering/emission, in precise mode (driver gate, float64
scorers from search/scorers.py) final sums are rounded to 6dp exactly like
the DuckDB oracle expression — so per-partition selection, WAND pruning and
the global sort all see the same values the comparator will.
"""

from __future__ import annotations

import logging
import sys
import threading
from collections import OrderedDict
from functools import cached_property, partial
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    _create_row,
)

from iresearch_spark.index import segments
from iresearch_spark.index.build import DEFAULT_CHUNK_BITS
from iresearch_spark.index.codec import binary_cells, delta_decode, delta_runs_decode, run_counts, varint_decode
from iresearch_spark.index.norms import Norms, docmap_lens, norm_rows, take_norm_rows, with_norm_rows
from iresearch_spark.index.segments import IndexStore, _live_tombstone_col, live_tombstones
from iresearch_spark.search.query import (
    All,
    And,
    Empty,
    Fuzzy,
    Node,
    Not,
    Or,
    Phrase,
    Prefix,
    Proxy,
    Range,
    SamePosition,
    Term,
    Terms,
    VarPhrase,
    Wildcard,
    normalize,
    wildcard_to_like,
)
from iresearch_spark.search.scorers import (
    BM25,
    ConstTermScorer,
    FieldStats,
    PreciseBM25,
    PreciseBM25TermScorer,
    PreciseConstTermScorer,
    PreciseTFIDF,
    PreciseTFIDFTermScorer,
    Scorer,
    TermScorer,
)

HITS_SCHEMA = StructType(
    [
        StructField("qid", IntegerType()),
        StructField("gdoc", LongType()),
        StructField("score", DoubleType()),
    ]
)
_HITS_ARROW = pa.schema([("qid", pa.int32()), ("gdoc", pa.int64()), ("score", pa.float64())])

# positions live in the low bits of the phrase intersection key, the
# doc's dense rank inside its (segment, chunk) group in the high bits
_POS_BITS = 42

# tombstone sets up to this size ride in the kernel CLOSURE (pickled into
# every task binary — cheap at this size)
MAX_INLINE_TOMBSTONES = 2_000_000
# larger sets up to this cap ship as a Spark BROADCAST variable instead
# (fetched once per executor, not per task), so k-pooling and block-max
# WAND stay ON in the mutable-index regime (r6 VERDICT next-1: the old
# behavior disabled both and degraded to full per-doc materialization +
# anti-join precisely where a serving tier lives). Beyond the cap the
# distributed anti-join fallback remains. Env-tunable: at 8 B/tombstone
# the default 50M costs a ~400 MB broadcast — size to executor memory.
import os as _os

MAX_BCAST_TOMBSTONES = int(_os.environ.get("IR_MAX_BCAST_TOMBSTONES", "50000000"))

# block-max pruning is disabled above this many scored legs: a sum-merge
# bound over W legs includes the other W-1 legs' whole-list upper bounds,
# so its selectivity decays to zero with width while its per-block cost
# grows — measured net-negative from a few hundred legs (see _sums_plan)
WAND_MAX_LEGS = 64

_log = logging.getLogger(__name__)


class _ScanPlan(NamedTuple):
    """One planned postings scan, runnable at either execution site: the
    kernel closure, the terms it reads (sorted) with the number of queries
    subscribed to each and each one's doc_freq, the columns, whether its
    rows must arrive (segment, chunk)-grouped, whether block-max pruning
    is on, the dict the kernel fills with its block counters (read back
    only where the kernel ran in this process), the phrase legs' terms
    (the blocks whose positions the kernel reads), and the scored legs
    and unscored tail terms it holds (None: a distributed tail)."""

    kernel: Callable
    terms: np.ndarray
    subs: np.ndarray
    dfs: np.ndarray
    cols: tuple
    grouped: bool
    prune: bool
    counters: dict
    pos_terms: list
    n_legs: int
    n_tail: int | None


class _TermLegs(NamedTuple):
    """A term-family query's legs: its terms and their doc_freqs, the
    first `n_scored` scored by one array scorer (`Scorer.prepare_terms`),
    the rest an unscored tail (score 0, the reference's lazy bitset leg)."""

    terms: np.ndarray
    dfs: np.ndarray
    scorer: TermScorer
    n_scored: int


class _PhraseLeg(NamedTuple):
    """A phrase-family query's leg of the sums kernel: each slot's
    indexed terms, each slot's position offset (relative: the smallest
    is 0), the phrase-frequency scorer (summed member idf) and the
    doc_freq of each term."""

    slots: list
    offsets: list
    scorer: TermScorer
    dfs: dict


class _LegTable(NamedTuple):
    """A scan's legs by term: term t (an index into the sorted `terms`;
    t = len(terms) stands for blocks of any other term, the distributed
    tail) has legs ptr[t]:ptr[t+1], each a query `qid`, a scorer family
    `fam` (index into `families`, one array scorer per family) and the
    `code` of its term in that family's per-term factor."""

    terms: np.ndarray
    ptr: np.ndarray
    qid: np.ndarray
    fam: np.ndarray
    code: np.ndarray
    families: list


def _leg_table(parts: list, extra_terms=(), tail: tuple | None = None) -> tuple[_LegTable, np.ndarray]:
    """The leg table of `parts`, (qid, terms, scorer) with an array
    scorer over the terms (or a term scorer of a single term), plus
    `extra_terms` scanned with no leg and an optional (qid, scorer) tail
    leg. Scorers of one family are concatenated into one array scorer.
    Also returns each part term's index into the table's terms, in part
    order.

    One part of distinct terms and nothing else (a single term or
    multiterm query's scored legs) skips the general merge: its table is
    its terms in sorted order, one leg each — the same table
    `_leg_table_general` builds."""
    named = [p for p in parts if p[1] is not None and len(p[1])]
    if len(named) == 1 and tail is None and not len(extra_terms):
        qid, terms, sc = named[0]
        terms = np.asarray(terms, dtype=object)
        order = np.argsort(terms, kind="stable")
        uterms = terms[order]
        if (uterms[1:] != uterms[:-1]).all():
            n = terms.size
            idx = np.empty(n, np.int64)
            idx[order] = np.arange(n)
            f = getattr(sc, sc.per_term)
            own = isinstance(f, np.ndarray) and f.ndim == 1 and f.dtype == sc.dtype
            table = _LegTable(
                uterms,
                np.append(np.arange(n + 1), n),
                np.full(n, qid, np.int64),
                np.zeros(n, np.int64),
                order.astype(np.int64),
                [sc if own else TermScorer.concat([sc])],
            )
            return table, idx
    return _leg_table_general(parts, extra_terms, tail)


def _leg_table_general(parts: list, extra_terms=(), tail: tuple | None = None) -> tuple[_LegTable, np.ndarray]:
    """`_leg_table` of any parts: every part's legs merged by (term, qid),
    scorers grouped by family."""
    fam_of: dict = {}
    members: list[list] = []
    sizes: list[int] = []
    t_parts, q_parts, f_parts, c_parts = [], [], [], []
    for qid, terms, sc in [*parts, *([(tail[0], None, tail[1])] if tail else [])]:
        n = 1 if terms is None else len(terms)
        if not n:
            continue
        f = fam_of.setdefault(sc.family(), len(members))
        if f == len(members):
            members.append([])
            sizes.append(0)
        members[f].append(sc)
        c_parts.append(sizes[f] + np.arange(n))
        sizes[f] += n
        f_parts.append(np.full(n, f))
        q_parts.append(np.full(n, qid))
        t_parts.append(terms)
    named = [np.asarray(t, dtype=object) for t in t_parts if t is not None]
    uterms = np.unique(np.concatenate([*named, np.asarray(list(extra_terms), dtype=object)]))
    idx = np.searchsorted(uterms, np.concatenate(named)) if named else np.empty(0, np.int64)
    ti = np.append(idx, [uterms.size] if tail else []).astype(np.int64)
    qid = np.concatenate(q_parts) if q_parts else np.empty(0, np.int64)
    order = np.lexsort((qid, ti))
    table = _LegTable(
        uterms,
        np.searchsorted(ti[order], np.arange(uterms.size + 2)),
        qid[order].astype(np.int64),
        np.concatenate(f_parts)[order] if f_parts else np.empty(0, np.int64),
        np.concatenate(c_parts)[order] if c_parts else np.empty(0, np.int64),
        [TermScorer.concat(m) for m in members],
    )
    return table, idx


def _score_legs(legs: _LegTable, leg: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
    """float64 scores of postings (tfs, dls) under legs `leg`: one call
    per scorer family, gathering each posting's per-term factor."""
    out = np.empty(leg.size)
    fam = legs.fam[leg]
    for f, sc in enumerate(legs.families):
        sel = slice(None) if len(legs.families) == 1 else fam == f
        out[sel] = sc.scores(tfs[sel].astype(sc.dtype), dls[sel].astype(sc.dtype), legs.code[leg[sel]])
    return out


def _gather_cells(data: np.ndarray, offs: np.ndarray, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The bytes of binary cells `rows` (ascending) back to back, and each
    cell's length: one slice of the column buffer for a run of rows."""
    lens = offs[rows + 1] - offs[rows]
    a, b = int(rows[0]), int(rows[-1]) + 1
    if b - a == rows.size:
        return data[offs[a] : offs[b]], lens
    at = np.repeat(offs[rows] - (np.cumsum(lens) - lens), lens) + np.arange(int(lens.sum()))
    return data[at], lens



def _transform_arr(mode: str, a: np.ndarray) -> np.ndarray:
    if mode == "f32":
        return a.astype(np.float32).astype(np.float64)
    if mode == "round6":
        return np.floor(a * 1e6 + 0.5) / 1e6
    return a


def _not_deleted_mask(deleted: np.ndarray, gdocs: np.ndarray) -> np.ndarray:
    idx = np.minimum(np.searchsorted(deleted, gdocs), deleted.size - 1)
    return deleted[idx] != gdocs


def _resolve_deleted(deleted):
    """np.ndarray | pyspark Broadcast | None -> np.ndarray | None. Kernels
    call this once per task; a Broadcast fetches its value on first access
    (executor-local, shared across the executor's tasks)."""
    if deleted is None or isinstance(deleted, np.ndarray):
        return deleted
    return deleted.value


class _SegBase(dict):
    """segment -> base_doc of an engine snapshot, carrying the snapshot's
    `Norms`: a kernel given the engine's `seg_base` gathers dl through
    it. A Spark task gets the `Norms`' docmap loader, not the lens the
    driver has read."""

    def __init__(self, bases: dict, norms: Norms):
        super().__init__(bases)
        self.norms = norms

    def __reduce__(self):
        return (_SegBase, (dict(self), self.norms))


class _TermRuns(NamedTuple):
    """A postings row group's term index: its distinct terms in sorted
    order (a numpy object array, for `searchsorted`), where each one's
    rows start and end in that order (`bounds`, one longer), the row at
    each sorted position (None when the group already is term-sorted, as
    every written group is) and the bytes all of it holds."""

    terms: np.ndarray
    bounds: np.ndarray
    rows: np.ndarray | None
    nbytes: int

    @classmethod
    def of(cls, term: pa.Array) -> "_TermRuns":
        rows = None
        if len(term) > 1 and pc.any(pc.less(term[1:], term[:-1])).as_py():
            rows = pc.sort_indices(term).to_numpy()
            term = term.take(rows)
        # each distinct term's first row
        new = pc.not_equal(term[1:], term[:-1]).to_numpy(zero_copy_only=False)
        starts = np.flatnonzero(np.append(len(term) > 0, new))
        uniq = term.take(starts)
        terms = uniq.to_numpy(zero_copy_only=False)
        bounds = np.append(starts, len(term))
        utf8 = np.frombuffer(uniq.buffers()[2] or b"", np.uint8)
        if (utf8 < 128).all():
            # CPython's compact ASCII str: one header, one byte a char
            strs = terms.size * sys.getsizeof("") + utf8.size
        else:
            strs = sum(map(sys.getsizeof, terms))
        held = terms.nbytes + strs + bounds.nbytes + (0 if rows is None else rows.nbytes)
        return cls(terms, bounds, rows, held)

    def find(self, want: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The sorted distinct terms `want` holds: the index in `want` of
        each one present, its first row position in sorted order and its
        row count."""
        at = np.searchsorted(self.terms, want)
        code = np.flatnonzero(at < self.terms.size)
        code = code[self.terms[at[code]] == want[code]]
        at = at[code]
        first = self.bounds[at]
        return code, first, self.bounds[at + 1] - first


class _PostingsCache:
    """An engine's decoded postings, for the driver-local site: a
    byte-bounded LRU of (file, row group, column) -> the decoded column,
    and of (file, row group, None) -> the group's `_TermRuns`, bounded by
    the driver budget `segments.LOCAL_BUILD_MAX_BYTES` (read on use) over
    the entries' sizes (Arrow buffers, `_TermRuns.nbytes`). Segment files
    never change and an engine is one manifest snapshot, so nothing is
    ever invalidated; the cache dies with its engine. Per column, so a
    first read is no wider than the query needs (a term query never
    decodes `pos_bin`). Lock-protected: threads may share an engine.
    Parquet reads run outside the lock (a read racing another of the same
    pair only costs the duplicate work)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._cols: OrderedDict[tuple[str, int, str | None], tuple[pa.Array | _TermRuns, int]] = OrderedDict()
        self.nbytes = 0

    def clear(self) -> None:
        with self._lock:
            self._cols.clear()
            self.nbytes = 0

    @staticmethod
    def _nbytes(value: pa.Array | _TermRuns) -> int:
        return value.nbytes if isinstance(value, _TermRuns) else value.get_total_buffer_size()

    def row_groups(self, path: str, md, rgs: list[int], cols: list[str]) -> tuple[list[tuple], int]:
        """Row groups `rgs` of parquet file `path` (footer `md`) as
        (batch of columns `cols`, `_TermRuns` or None) per group, `cols`
        holding `term`: cached entries from memory, the missing (row
        group, column) pairs read with one reader over the cached footer.
        A group's term index is built the first time its term column is
        served from memory, so a first read costs no more than the read
        (None: not built yet). Also returns how many groups needed no
        read."""
        keys = [*cols, None]
        with self._lock:
            got = []
            for g in rgs:
                row = {}
                for c in keys:
                    hit = self._cols.get((path, g, c))
                    if hit is not None:
                        self._cols.move_to_end((path, g, c))
                        row[c] = hit[0]
                got.append(row)
        n_cached = sum(all(c in row for c in cols) for row in got)
        fresh = []
        reader = None
        for g, row in zip(rgs, got):
            miss = [c for c in cols if c not in row]
            if miss:
                if reader is None:
                    import pyarrow.parquet as pq

                    reader = pq.ParquetFile(path, metadata=md)
                # one thread: for a few row groups a reader pool's
                # handoffs cost more CPU than they save
                t = reader.read_row_group(g, columns=miss, use_threads=False)
                for c, x in zip(miss, t.columns):
                    row[c] = x.chunk(0) if x.num_chunks == 1 else x.combine_chunks()
                    fresh.append(((path, g, c), row[c]))
            if None not in row and "term" not in miss:
                row[None] = _TermRuns.of(row["term"])
                fresh.append(((path, g, None), row[None]))
        if fresh:
            self._put(fresh)
        return [(pa.RecordBatch.from_arrays([row[c] for c in cols], names=cols), row.get(None)) for row in got], n_cached

    def _put(self, entries: list) -> None:
        cap = segments.LOCAL_BUILD_MAX_BYTES
        sized = [(key, value, self._nbytes(value)) for key, value in entries]
        with self._lock:
            for key, value, size in sized:
                if size > cap or key in self._cols:
                    continue
                while self.nbytes + size > cap:
                    self.nbytes -= self._cols.popitem(last=False)[1][1]
                self._cols[key] = (value, size)
                self.nbytes += size


def _decode_rows_docs(pdf: pd.DataFrame, seg_base: dict[str, int]):
    """Batch-wide doc decode of packed block rows from any segments, by
    their doc_count column (merge._unpack_kernel pattern — r4 VERDICT
    next-2): (gdoc per doc, row index per doc)."""
    counts = pdf["doc_count"].to_numpy().astype(np.int64)
    row_of_doc = np.repeat(np.arange(len(pdf)), counts)
    seg_codes, seg_uniq = pd.factorize(pdf["segment"].to_numpy())
    base_of_seg = np.array([seg_base.get(s, 0) for s in seg_uniq], dtype=np.int64)
    docs = delta_runs_decode(b"".join(pdf["docs_bin"]), counts)
    return docs + base_of_seg[seg_codes[row_of_doc]], row_of_doc


def _damerau(a: str, b: str) -> int:
    """TRUE (unrestricted) Damerau-Levenshtein — transposed pairs may be
    edited again ('ca'->'abc' = 2), matching DuckDB damerau_levenshtein and
    the reference's with_transpositions automata semantics
    (core/utils/levenshtein_utils.cpp)."""
    la, lb = len(a), len(b)
    maxdist = la + lb
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    last_row: dict[str, int] = {}
    for i in range(1, la + 1):
        last_col = 0
        for j in range(1, lb + 1):
            k = last_row.get(b[j - 1], 0)
            l = last_col
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_col = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute/match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose block
            )
        last_row[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _utf32_groups(cands: list[str]) -> list[tuple[np.ndarray, np.ndarray]]:
    """Same-length groups of `cands`: (indices, (n, length) UTF-32 code
    matrix) per distinct length, shortest first."""
    lens = np.fromiter(map(len, cands), dtype=np.int64, count=len(cands))
    order = np.argsort(lens, kind="stable")
    out = []
    for idx in np.split(order, np.flatnonzero(np.diff(lens[order])) + 1):
        if idx.size:
            s = "".join(cands[i] for i in idx.tolist())
            out.append((idx, np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).reshape(idx.size, -1)))
    return out


def _lev_rows(amat: np.ndarray, b: str, target_bytes: int = 128 << 20) -> np.ndarray:
    """STANDARD Levenshtein distance of every row of a (m, la) UTF-32 code
    matrix (same-length candidates) to `b`: the classic two-row DP
    batched along the candidate axis in numpy, chunked so the two (m,
    lb+1) rows stay within `target_bytes`."""
    m, la = amat.shape
    b_arr = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    lb = b_arr.size
    if la == 0 or lb == 0:
        return np.full(m, la + lb, dtype=np.int64)
    out = np.empty(m, dtype=np.int64)
    chunk = max(1, target_bytes // ((lb + 1) * 8 * 3))
    for c0 in range(0, m, chunk):
        at = np.ascontiguousarray(amat[c0 : c0 + chunk].T)  # one row per char
        mm = at.shape[1]
        prev = np.broadcast_to(np.arange(lb + 1, dtype=np.int64), (mm, lb + 1)).copy()
        cur = np.empty((mm, lb + 1), dtype=np.int64)
        for i in range(1, la + 1):
            cur[:, 0] = i
            ai = at[i - 1]
            for j in range(1, lb + 1):
                v = prev[:, j - 1] + (ai != b_arr[j - 1])
                np.minimum(v, prev[:, j] + 1, out=v)
                np.minimum(v, cur[:, j - 1] + 1, out=v)
                cur[:, j] = v
            prev, cur = cur, prev
        out[c0 : c0 + mm] = prev[:, lb]
    return out


def _damerau_rows(amat: np.ndarray, b: str, target_bytes: int = 128 << 20) -> np.ndarray:
    """True Damerau-Levenshtein distance of every row of a (m, la) UTF-32
    code matrix to `b`: the same unrestricted DP as `_damerau`, batched
    along the candidate axis in numpy, chunked so the (m, la+2, lb+2)
    history tensor stays within `target_bytes`. The i/j loops are
    O(|a|*|b|) Python steps, each a handful of (m,)-wide numpy ops."""
    m, la = amat.shape
    b_arr = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    lb = b_arr.size
    if la == 0 or lb == 0:
        return np.full(m, la + lb, dtype=np.int64)
    out = np.empty(m, dtype=np.int64)
    bsort = np.unique(b_arr)
    j_cidx = np.searchsorted(bsort, b_arr)  # per-j index into last_row cols
    # chunk sized from the DP area so the history tensor stays bounded
    # regardless of string length (a fixed chunk made memory scale with
    # la*lb — ADVICE r5)
    chunk = max(1, target_bytes // ((la + 2) * (lb + 2) * 8))
    for c0 in range(0, m, chunk):
        at = np.ascontiguousarray(amat[c0 : c0 + chunk].T)
        mm = at.shape[1]
        maxdist = la + lb
        D = np.full((mm, la + 2, lb + 2), maxdist, dtype=np.int64)
        D[:, 1:, 1] = np.arange(la + 1)
        D[:, 1, 1:] = np.arange(lb + 1)
        last_row = np.zeros((mm, bsort.size), dtype=np.int64)
        rows_m = np.arange(mm)
        for i in range(1, la + 1):
            ai = at[i - 1]
            last_col = np.zeros(mm, dtype=np.int64)
            for j in range(1, lb + 1):
                k = last_row[:, j_cidx[j - 1]]
                l = last_col
                cost = (ai != b_arr[j - 1]).astype(np.int64)
                v = D[:, i, j] + cost
                np.minimum(v, D[:, i + 1, j] + 1, out=v)
                np.minimum(v, D[:, i, j + 1] + 1, out=v)
                # transpose-block move from the last (match, match) cell
                np.minimum(v, D[rows_m, k, l] + (i - k) + (j - l) - 1, out=v)
                D[:, i + 1, j + 1] = v
                last_col = np.where(cost == 0, j, l)
            pos = np.searchsorted(bsort, ai)
            ok = pos < bsort.size
            pos0 = np.where(ok, pos, 0)
            ok &= bsort[pos0] == ai
            last_row[rows_m[ok], pos0[ok]] = i
        out[c0 : c0 + mm] = D[:, la + 1, lb + 1]
    return out


def _lev_batch(cands: list[str], b: str, target_bytes: int = 128 << 20) -> np.ndarray:
    """Levenshtein distance of many candidates to one query (`_lev_rows`
    per candidate length) — semantics identical to the SQL path's JVM
    `levenshtein`."""
    out = np.empty(len(cands), dtype=np.int64)
    for idx, amat in _utf32_groups(cands):
        out[idx] = _lev_rows(amat, b, target_bytes)
    return out


def _damerau_batch(cands: list[str], b: str, target_bytes: int = 128 << 20) -> np.ndarray:
    """True Damerau-Levenshtein distance of many candidates to one query
    (`_damerau_rows` per candidate length) — the executors' verify in the
    no-vocab regime."""
    out = np.empty(len(cands), dtype=np.int64)
    for idx, amat in _utf32_groups(cands):
        out[idx] = _damerau_rows(amat, b, target_bytes)
    return out


def _phrase_rows(phrases, n_terms, tc, tok_t, docs, tfs, dl_of, pos_bytes):
    """Phrase legs over one decoded (segment, chunk) group: [(qid, gdocs,
    scores)], one entry per matching doc. `phrases` holds (qid, leg, each
    slot's term indices); `tc` holds each block's and `tok_t` each
    posting's term index (of the scan's `n_terms`); `dl_of(gdocs)` gives
    the matching docs' lengths and `pos_bytes(mask)` the position streams
    of the masked blocks, back to back.

    Phrase matching is set algebra on packed keys (reference
    FixedPhraseFrequency leapfrog, core/search/phrase_iterator.hpp:75-154,
    re-expressed columnar): for slot j at offset o_j, every occurrence
    (doc, pos) of a slot term becomes key = doc_rank << _POS_BITS | (pos -
    o_j), with doc_rank the doc's dense rank in the group; a phrase
    occurrence is a key present in EVERY slot's key set, and a doc's
    phrase frequency is its count of such keys. Offsets are relative (the
    smallest is 0): a key below 0 would start before the doc and is
    dropped. Positions are decoded only for the blocks of phrases whose
    every slot has a block here, in one varint pass (`delta_runs_decode`
    resets the position deltas at each doc)."""
    if not phrases:
        return []
    present = np.zeros(n_terms + 1, dtype=bool)
    present[tc] = True
    ready = []
    for qid, ph, slots in phrases:
        slots = [cs[present[cs]] for cs in slots]
        if all(cs.size for cs in slots):
            ready.append((qid, ph, slots))
    if not ready:
        return []
    need = np.zeros(n_terms + 1, dtype=bool)
    need[np.concatenate([cs for _, _, slots in ready for cs in slots])] = True
    tok = np.flatnonzero(need[tok_t])  # whole blocks, in block order
    tf = tfs[tok].astype(np.int64)
    pos = delta_runs_decode(pos_bytes(need[tc]), tf)
    udocs, rank = np.unique(docs[tok], return_inverse=True)
    prank = np.repeat(rank.astype(np.int64) << _POS_BITS, tf)
    pcode = np.repeat(tok_t[tok], tf)
    out = []
    for qid, ph, slots in ready:
        acc = None
        for cs, off in zip(slots, ph.offsets):
            m = np.isin(pcode, cs)
            sh = pos[m] - off
            ok = sh >= 0
            keys = np.unique(prank[m][ok] | sh[ok])
            acc = keys if acc is None else acc[np.isin(acc, keys, assume_unique=True)]
            if not acc.size:
                break
        if not acc.size:
            continue
        r, ptf = np.unique(acc >> _POS_BITS, return_counts=True)
        sc = ph.scorer
        scores = sc.scores(ptf.astype(sc.dtype), dl_of(udocs[r]).astype(sc.dtype))
        out.append((qid, udocs[r], scores.astype(np.float64, copy=False)))
    return out


_MERGE_REDUCERS = (("sum", np.add), ("max", np.maximum), ("min", np.minimum))
_MERGE_CODE = {m: i for i, (m, _) in enumerate(_MERGE_REDUCERS)}


def _sums_kernel(
    legs: _LegTable,
    mm_arr: np.ndarray,
    ca_arr: np.ndarray,
    mc_arr: np.ndarray,
    seg_base: dict[str, int],
    *,
    k: int | None,
    mode: str,
    deleted,  # np.ndarray | pyspark Broadcast of one | None
    grouped: bool,
    prune: bool = False,
    other_ub: np.ndarray | None = None,
    counters: dict | None = None,
    phrases: list[tuple[int, _PhraseLeg]] = (),
):
    """Arrow kernel (mapInArrow, or called in-process on the driver):
    packed block rows (`pyarrow.RecordBatch`es) -> per-(query, doc)
    (qid, gdoc, score) batches for one query or a batch sharing one
    postings scan.

    `legs` (`_leg_table`): each term's legs, (qid, scorer family, term
    code); a block is decoded ONCE and its postings scored for every
    subscribed query, every leg of one scorer family in one call that
    gathers each posting's per-term factor by its code. Blocks of a term
    outside `legs.terms` take the tail legs (the no-vocab regime's
    distributed unscored tail, a zero scorer); without them every block's
    term must be in `legs.terms` (the scan reads only those terms).
    Per-query params ride in aligned arrays indexed by qid: `mm_arr`
    min_match, `ca_arr` const_add, `mc_arr` merge code (index into
    _MERGE_REDUCERS). `phrases`: (qid, leg) per phrase-family query,
    whose rows (`_phrase_rows`) join the term legs' before the reduction;
    they need a `pos_bin` column, which may be null for blocks of terms
    no phrase reads. Binary cells are read as slices of their column's
    buffer (`binary_cells`): a group's cells decode as one run.

    grouped=True requires rows sorted by (segment, chunkid) within the
    partition (a doc's blocks for all query terms share one group — chunk
    co-partitioning from index/build.py). grouped=False is the single-leg
    width-1 fast path: every block is its own group (one block per doc per
    term), with no sort or reduce, so the threshold tightens per block.

    dl comes from norm rows (term NULL) that precede each (segment,
    chunk)'s blocks in the partition (a grouped Spark-site scan,
    `with_norm_rows`), else from `seg_base.norms` (an engine's
    `_SegBase`), which reads the docmap lens once per segment.

    Per-query top-k pools bound what leaves the partition: at most k rows
    per query. k=None disables pooling and emits every group — required
    when the tombstone mask is too large to ride in the kernel (the
    post-kernel anti-join would otherwise strip pool survivors while live
    docs were already discarded inside the kernel).

    prune (width-1 plans only): block-max skipping against the query's
    current k-th best, with `other_ub` (by term index, the tail last) the
    other legs' whole-list bounds. A batch block would only be skippable
    when EVERY subscriber's bound fails, measured at 0% of blocks at
    batch widths (OPTIMIZATION_r07 §7).

    `counters` (direct/driver-side calls only — a distributed task's dict
    never comes back): filled with {"blocks", "skipped"} so tests and the
    kernel bench can pin that block-max pruning actually engages, not just
    that it doesn't change results.
    """
    n_q = len(mm_arr)
    prune = prune and k is not None and n_q == 1
    merge0 = _MERGE_REDUCERS[int(mc_arr[0])][0]
    merges = set(mc_arr.tolist())
    reducers = [(c, red) for c, (_, red) in enumerate(_MERGE_REDUCERS) if c in merges]
    has_const = bool(ca_arr.any())
    has_min_match = bool((mm_arr > 1).any())
    qid_edges = np.arange(n_q + 1)
    n_terms = len(legs.terms)
    n_legs = np.diff(legs.ptr)  # legs per term index, the tail's last
    seg_names = list(seg_base)
    seg_shift = np.array([seg_base[s] for s in seg_names], dtype=np.int64)
    ph_codes = [
        (qid, ph, [np.searchsorted(legs.terms, np.asarray(ts, dtype=object)) for ts in ph.slots])
        for qid, ph in phrases
    ]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dels = _resolve_deleted(deleted)
        norms = getattr(seg_base, "norms", None)
        if norms is None:
            norms = Norms()
        term_set = pa.array(legs.terms, pa.string())
        seg_set = pa.array(seg_names, pa.string())
        pools = [np.empty(0, dtype=np.float64) for _ in range(n_q)]  # descending
        thr = np.full(n_q, -np.inf)  # per-query k-th best (-inf until full)
        out_q: list[int] = []
        out_d: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        # grouped mode buffers the row runs of the current (segment,
        # chunk) group, across batches; decode happens batched at flush
        # (wide multiterm expansions put thousands of small blocks in one
        # group)
        buf: list = []  # (rows, term index, docs cells, tfs cells, pos cells)
        cur_key: tuple | None = None
        shift = 0

        def emit(q: int, gd: np.ndarray, sums: np.ndarray) -> None:
            """Query q's per-doc sums -> its pool and the output."""
            if has_const:
                sums = sums + ca_arr[q]
            if dels is not None and dels.size and gd.size:
                live = _not_deleted_mask(dels, gd)
                gd, sums = gd[live], sums[live]
            if not gd.size:
                return
            tsums = _transform_arr(mode, sums)
            if k is not None:
                pool = np.sort(np.concatenate((pools[q], tsums)))[::-1][:k]
                pools[q] = pool
                if pool.size == k:
                    thr[q] = pool[-1]
                    keep = tsums >= pool[-1]
                    gd, tsums = gd[keep], tsums[keep]
            out_q.append(q)
            out_d.append(gd)
            out_s.append(tsums)

        def cells(i: int) -> tuple[np.ndarray, np.ndarray]:
            """The current group's cells of buffered column i, back to back,
            and their lengths."""
            got = [_gather_cells(*p[i], p[0]) for p in buf]
            if len(got) == 1:
                return got[0]
            return np.concatenate([g[0] for g in got]), np.concatenate([g[1] for g in got])

        def pos_bytes(mask: np.ndarray) -> np.ndarray:
            out, o = [], 0
            for rows, _, _, _, pos in buf:
                m = mask[o : o + rows.size]
                o += rows.size
                if m.any():
                    out.append(_gather_cells(*pos, rows[m])[0])
            return np.concatenate(out)

        def flush() -> None:
            if not buf:
                return
            tc = np.concatenate([tcode[rows] for rows, tcode, *_ in buf])
            d8, dlen = cells(2)
            counts = run_counts(d8, dlen)
            docs = delta_runs_decode(d8, counts) + shift
            tfs = varint_decode(cells(3)[0])
            seg = seg_names[cur_key[0]]

            def dl_of(gd: np.ndarray) -> np.ndarray:
                return norms.of(seg, gd - shift)

            # fan out: each posting once per leg of its term, the legs of
            # one scorer family scored in one call
            tok_t = np.repeat(tc, counts)
            rep = n_legs[tok_t]
            if (rep == 1).all():
                tok, leg = np.arange(tok_t.size), legs.ptr[tok_t]
            else:
                tok = np.repeat(np.arange(tok_t.size), rep)
                first = np.cumsum(rep) - rep
                leg = np.repeat(legs.ptr[tok_t] - first, rep) + np.arange(tok.size)
            ps, pd_, pq, psc = [tok], [docs[tok]], [legs.qid[leg]], []
            if tok.size:
                psc.append(_score_legs(legs, leg, tfs[tok], dl_of(docs)[tok]))
            # a phrase leg's rows (one per matching doc) join as extra
            # entries past the group's postings
            nxt = docs.size
            for qid, gd, sc in _phrase_rows(ph_codes, n_terms, tc, tok_t, docs, tfs, dl_of, pos_bytes):
                ps.append(np.arange(nxt, nxt + gd.size))
                nxt += gd.size
                pd_.append(gd)
                pq.append(np.full(gd.size, qid, dtype=np.int64))
                psc.append(sc)
            buf.clear()
            if not psc:
                return
            pos = np.concatenate(ps)
            gdocs = np.concatenate(pd_)
            scores = np.concatenate(psc)
            qids = np.concatenate(pq)
            # one sort by (qid, doc, token position): every (query, doc)
            # sum adds its legs in token order — the float order of a
            # per-doc reduction over the group's rows
            order = np.lexsort((pos, gdocs, qids))
            qids, gdocs, scores = qids[order], gdocs[order], scores[order]
            starts = np.flatnonzero(
                np.concatenate(([True], (qids[1:] != qids[:-1]) | (gdocs[1:] != gdocs[:-1])))
            )
            gq, gd = qids[starts], gdocs[starts]
            if len(reducers) == 1:
                sums = reducers[0][1].reduceat(scores, starts)
            else:  # one reduceat per merge family present, picked per group
                gm = mc_arr[gq]
                sums = np.empty(gq.size, dtype=np.float64)
                for code, red in reducers:
                    sel = gm == code
                    sums[sel] = red.reduceat(scores, starts)[sel]
            if has_min_match:
                keep = np.diff(np.concatenate((starts, [gdocs.size]))) >= mm_arr[gq]
                gq, gd, sums = gq[keep], gd[keep], sums[keep]
            qb = np.searchsorted(gq, qid_edges)  # groups arrive qid-sorted
            for q in range(n_q):
                if qb[q] < qb[q + 1]:
                    emit(q, gd[qb[q] : qb[q + 1]], sums[qb[q] : qb[q + 1]])

        for batch in batches:
            batch = take_norm_rows(batch, norms)
            n = batch.num_rows
            if n == 0:
                continue
            tcode = pc.fill_null(pc.index_in(batch.column("term"), value_set=term_set), n_terms).to_numpy()
            scode = pc.index_in(batch.column("segment"), value_set=seg_set).to_numpy()
            docsb = binary_cells(batch.column("docs_bin"))
            tfsb = binary_cells(batch.column("tfs_bin"))
            posb = binary_cells(batch.column("pos_bin")) if phrases else None
            # Vectorized block-max bounds (r3: per-row scalar bounds cost
            # more than the skipped decodes at bench scale — VERDICT r2
            # "WAND inversion"): one scorer call per family for the whole
            # batch, gathering each block's per-term factor. Arithmetic
            # stays float64 so bounds never round DOWN.
            tb = None
            if prune:
                leg0 = legs.ptr[tcode]  # width 1: a term's one leg
                blk = _score_legs(
                    legs, leg0, batch.column("max_tf").to_numpy(), batch.column("min_dl").to_numpy()
                )
                if merge0 == "sum":
                    # doc total <= this leg's block bound + every other
                    # leg's whole-list bound
                    tb = blk + other_ub[tcode] + ca_arr[0]
                elif merge0 == "max":
                    tb = np.maximum(blk, other_ub[tcode]) + ca_arr[0]
                else:  # min: doc present in THIS leg -> min <= blk
                    tb = blk + ca_arr[0]
                tb = _transform_arr(mode, tb)
            if counters is not None:
                counters["blocks"] = counters.get("blocks", 0) + n
            if grouped:
                chunks = batch.column("chunkid").to_numpy()
                cut = np.flatnonzero((scode[1:] != scode[:-1]) | (chunks[1:] != chunks[:-1])) + 1
                for a, b in zip([0, *cut], [*cut, n]):
                    key = (int(scode[a]), int(chunks[a]))
                    if key != cur_key:
                        flush()
                        cur_key = key
                        shift = int(seg_shift[key[0]])
                    rows = np.arange(a, b)
                    if tb is not None:
                        skip = tb[a:b] < thr[0]  # block-max skip (STRICT <)
                        if skip.any():
                            if counters is not None:
                                counters["skipped"] = counters.get("skipped", 0) + int(skip.sum())
                            rows = rows[~skip]
                    if rows.size:  # decode deferred to the batched flush
                        buf.append((rows, tcode, docsb, tfsb, posb))
                continue
            for i in range(n):
                if tb is not None and tb[i] < thr[0]:
                    if counters is not None:
                        counters["skipped"] = counters.get("skipped", 0) + 1
                    continue  # block-max skip (STRICT <)
                leg = legs.ptr[tcode[i]]
                sc = legs.families[legs.fam[leg]]
                d8, o = docsb
                docs = delta_decode(varint_decode(d8[o[i] : o[i + 1]])).astype(np.int64)
                t8, o = tfsb
                tfs = varint_decode(t8[o[i] : o[i + 1]])
                dls = norms.of(seg_names[scode[i]], docs)
                scores = sc.scores(tfs.astype(sc.dtype), dls.astype(sc.dtype), np.full(docs.size, legs.code[leg]))
                emit(int(legs.qid[leg]), docs + seg_shift[scode[i]], scores.astype(np.float64, copy=False))
        flush()
        if out_d:
            gd = np.concatenate(out_d)
            sc_ = np.concatenate(out_s)
            gq = np.repeat(np.asarray(out_q, dtype=np.int32), [d.size for d in out_d])
            if k is not None and gd.size > k:
                # per-partition per-query top-k cap before emission: rank =
                # offset from the query's first row in (qid, score desc,
                # gdoc) order
                order = np.lexsort((gd, -sc_, gq))
                gq_s = gq[order]
                sel = order[np.arange(gq_s.size) - np.searchsorted(gq_s, gq_s) < k]
                gq, gd, sc_ = gq[sel], gd[sel], sc_[sel]
            yield pa.RecordBatch.from_arrays([pa.array(gq), pa.array(gd), pa.array(sc_)], schema=_HITS_ARROW)

    return kernel


def _topk_sums_kernel(
    scorers: dict[str, TermScorer],
    other_ub: dict[str, float],
    seg_base: dict[str, int],
    *,
    k: int | None,
    min_match: int,
    const_add: float,
    merge: str,
    mode: str,
    deleted,
    grouped: bool,
    prune: bool,
    counters: dict | None = None,
    default_scorer: TermScorer | None = None,
    other_ub_default: float = 0.0,
):
    """The sums kernel for ONE query (qid 0), pandas in and pandas out —
    a width-1 plan built directly from term scorers and bounds, for
    kernel-level benches and tests. `default_scorer` scores blocks of
    terms outside `scorers` (the tail)."""
    legs, _ = _leg_table(
        [(0, [t], sc) for t, sc in scorers.items()],
        tail=None if default_scorer is None else (0, default_scorer),
    )
    ub = [other_ub.get(t, other_ub_default) for t in legs.terms.tolist()]
    kern = _sums_kernel(
        legs,
        np.array([min_match], dtype=np.int64),
        np.array([const_add], dtype=np.float64),
        np.array([_MERGE_CODE[merge]], dtype=np.int64),
        seg_base,
        k=k,
        mode=mode,
        deleted=deleted,
        grouped=grouped,
        prune=prune,
        other_ub=np.array([*ub, other_ub_default], dtype=np.float64),
        counters=counters,
    )

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in kern(pa.RecordBatch.from_pandas(f, preserve_index=False) for f in frames):
            yield b.to_pandas()

    return run



# numpy dtypes of toPandas() on the result columns' Spark types
_NP_DTYPES = {LongType: np.int64, FloatType: np.float32, DoubleType: np.float64, StringType: object}


class _LocalFrame(_ClassicDataFrame):
    """DataFrame of a small driver-side result: numpy ([query,] gdoc,
    score) columns. `collect()`, `toPandas()`, `count()`, `schema` and
    `columns` answer from the arrays, with the Row fields, Python types
    and pandas dtypes Spark's own answers have, and make no JVM call; a
    pandas frame is built only by `toPandas()`. Any other use (join,
    union, orderBy, explain, ...) reads `_jdf`, which builds the local
    relation once; from then on the frame is an ordinary DataFrame over
    it."""

    def __new__(cls, *args, **kwargs):
        # the classic __new__ calls __init__(jdf, session)
        return object.__new__(cls)

    def __init__(self, session: SparkSession, cols: dict[str, np.ndarray], schema: StructType):
        self._session = session
        self._sc = session._sc
        self.is_cached = False
        self._support_repr_html = False
        self._cols = cols
        self.schema = schema  # shadows the classic property's JVM schema call

    @cached_property
    def _jdf(self):
        pdf = self.toPandas()
        if pdf.empty:
            # limit(0) of a one-row local relation folds to an empty local
            # relation (an empty pandas frame or list becomes an RDD scan,
            # one job)
            row = {"query": "", "gdoc": 0, "score": 0.0}
            pdf = pd.DataFrame({c: [row[c]] for c in pdf.columns})
            return self._session.createDataFrame(pdf, self.schema).limit(0)._jdf
        return self._session.createDataFrame(pdf, self.schema)._jdf

    def _typed(self) -> dict[str, np.ndarray]:
        return {f.name: self._cols[f.name].astype(_NP_DTYPES[type(f.dataType)], copy=False) for f in self.schema}

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame(self._typed())

    def collect(self) -> list:
        cols, names = self._typed(), self.columns
        return [_create_row(names, vals) for vals in zip(*(cols[c].tolist() for c in names))]

    def count(self) -> int:
        return len(self._cols["gdoc"])


class SearchEngine:
    def __init__(self, spark: SparkSession, store: IndexStore, scorer: Scorer | None = None):
        self.spark = spark
        self.store = store
        self.scorer = scorer or BM25()
        self.precise = self.scorer.dtype == np.float64
        # final-score transform: float32 cast (reference score_t) or the
        # gate oracle's 6-dp rounding (plans/parity.py)
        self.final_mode = "round6" if self.precise else "f32"
        self.leaf_mode = "f64" if self.precise else "f32"
        self._score_t = "double" if self.precise else "float"
        self.manifest = store.current()
        if not self.manifest.segments:
            raise ValueError(f"index at {store.root} has no committed segments")
        self.field = FieldStats(
            self.manifest.docs_count,
            self.manifest.sum_len,
            max_dl=(m if (m := self.manifest.max_dl) >= 0 else None),
        )
        # segment -> base_doc, carrying the docmap lens (read on first use)
        self.seg_base = _SegBase(
            {s.name: s.base_doc for s in self.manifest.segments},
            Norms(partial(docmap_lens, store.root)),
        )
        self.chunk_bits = getattr(self.manifest, "chunk_bits", DEFAULT_CHUNK_BITS)
        # phrase kernels need pos_bin in EVERY segment: read_union
        # null-fills a plain segment's column, which no kernel can decode
        self._streams_missing: dict[str, list[str]] = {}
        self.has_positions = not self._segments_without("pos_bin")
        # driver-side term dictionary (lazy): for vocabularies up to
        # VOCAB_CACHE_MAX the whole (term, doc_freq) table is pulled to the
        # driver once, so every multiterm expansion is a local lookup
        # instead of a Spark job per query — the reference reads its term
        # dictionary from mmap'd FST for the same reason. `_vocab` holds
        # it as (terms, doc_freqs) arrays, `_fuzzy_index` the per-length
        # code matrices Fuzzy expands against (built on the first Fuzzy
        # query)
        self._vocab: tuple[np.ndarray, np.ndarray] | None | bool = False
        self._fuzzy_index: dict[int, tuple[np.ndarray, np.ndarray]] | None = None
        # proxy_filter cache: normalized child (+boost) -> persisted hits
        self._proxy_cache: dict = {}
        # decoded postings columns the driver-local site has read
        self._postings_cache = _PostingsCache()
        self.last_run: dict | None = None  # the last topk(_batch)'s site choice
        # live-delete mask (reference index_writer Remove(),
        # index_writer.hpp:381-416): deletes stay visible as a query-time
        # tombstone mask until a merge physically drops them
        self._deleted_arr: np.ndarray | None = None
        self._deleted_bcast = None  # pyspark Broadcast of the sorted gdocs
        self._tomb_gdocs: DataFrame | None = None  # _mask's anti-join side, lazy
        self._deleted_inline = True
        if self.manifest.deletes_gen is not None:
            # no Spark job on open: the row count comes from the parquet
            # footers, the kernel-resident tiers read (segment, doc_id)
            # with pyarrow and map to gdocs in numpy
            t, n_del = store.deletes_table(self.manifest, max_rows=MAX_BCAST_TOMBSTONES)
            if t is not None:
                arr = np.sort(live_tombstones(self.manifest.segments, t)[1])
                if n_del <= MAX_INLINE_TOMBSTONES:
                    self._deleted_arr = arr
                else:
                    # mid tier (r7): mask stays IN-KERNEL as a broadcast —
                    # pooling and WAND pruning keep working; _mask paths
                    # that bypass the kernels anti-join distributedly
                    self._deleted_bcast = spark.sparkContext.broadcast(arr)
            else:
                self._deleted_inline = False

    # Spark relations over the engine's manifest snapshot, built on first
    # use: the driver-local site never touches them, so an engine open
    # creates none (each is a parquet datasource resolution in the JVM)

    @cached_property
    def postings(self) -> DataFrame:
        return self.store.read_union(self.spark, "postings", list(self.seg_base))

    @cached_property
    def _postings_footers(self) -> dict[str, list[tuple]]:
        """segment -> its postings parquet files, each footer read once
        per engine: (path, footer metadata, term min, term max, whether
        the row group has those stats), the last three per row group.
        The driver-local site picks row groups from them and
        `_segments_without` reads their schemas."""
        import glob

        import pyarrow.parquet as pq

        out: dict[str, list[tuple]] = {}
        for name in sorted(self.seg_base):
            files = []
            path = self.store.seg_path(name, "postings")
            for f in sorted(glob.glob(_os.path.join(path, "*.parquet"))):
                md = pq.read_metadata(f)
                j = md.schema.names.index("term")
                st = [md.row_group(g).column(j).statistics for g in range(md.num_row_groups)]
                known = np.array([x is not None and x.has_min_max for x in st], dtype=bool)
                lo = np.array([x.min if ok else "" for x, ok in zip(st, known)], dtype=object)
                hi = np.array([x.max if ok else "" for x, ok in zip(st, known)], dtype=object)
                files.append((f, md, lo, hi, known))
            out[name] = files
        return out

    @cached_property
    def _segment_names(self) -> pa.Array:
        """The segments in `_postings_footers` order: the local blocks'
        `segment` dictionary."""
        return pa.array(list(self._postings_footers), pa.string())

    @cached_property
    def term_stats(self) -> DataFrame:
        """Index-wide term stats (reference prepare() walks all segments);
        persisted only when the dictionary is too large for the driver
        cache (see _vocab_pairs) — then every expansion queries it."""
        return (
            self.store.read_union(self.spark, "term_stats", list(self.seg_base))
            .groupBy("term")
            .agg(F.sum("doc_freq").alias("doc_freq"), F.sum("total_tf").alias("total_tf"))
        )

    @cached_property
    def _docmap(self) -> DataFrame:
        return self.store.read_union(self.spark, "docmap", list(self.seg_base)).select(
            "segment", "doc_id"
        )

    @cached_property
    def _norm_rows(self) -> DataFrame:
        """The Spark site's norm rows, cached in Spark storage on the first
        Spark-site scan (2-3 bytes per doc): later scans skip the
        docmap read and the packing kernel."""
        docmap = self.store.read_union(self.spark, "docmap", list(self.seg_base))
        return norm_rows(docmap, self.chunk_bits).persist()

    @cached_property
    def tombstones(self) -> DataFrame | None:
        gen = self.manifest.deletes_gen
        if gen is None:
            return None
        return self.store.read_parquet(self.spark, self.store.deletes_path(gen))

    @property
    def _kernel_deleted(self):
        """Tombstone mask a kernel can evaluate locally: a sorted int64
        array (inline tier), a Broadcast of one (mid tier), or None (the
        anti-join fallback / no deletes)."""
        return self._deleted_arr if self._deleted_arr is not None else self._deleted_bcast

    # ------------------------------------------------------------------ util

    def _base_map(self):
        return F.create_map(*[F.lit(x) for kv in sorted(self.seg_base.items()) for x in kv])

    def doc_universe(self) -> DataFrame:
        """All live docs (docmap = every assigned id incl. zero-token docs,
        minus tombstones) — the reference `all` iterator over the segment."""
        u = self._docmap.select(
            (F.col("doc_id") + self._base_map()[F.col("segment")]).alias("gdoc")
        )
        return self._mask(u)

    def _tombstone_tier(self) -> str:
        if self.manifest.deletes_gen is None:
            return "none"
        if not self._deleted_inline:
            return "antijoin"
        return "inline" if self._deleted_arr is not None else "broadcast"

    def _mask(self, hits: DataFrame) -> DataFrame:
        """Tombstone mask for paths that did not inline it in the kernel."""
        if self._tomb_gdocs is None:
            if self.manifest.deletes_gen is None or (
                self._deleted_arr is not None and not self._deleted_arr.size
            ):
                return hits
            if self._deleted_arr is not None:
                # inline tier: the broadcast side is built once per engine,
                # from the sorted array through Arrow
                self._tomb_gdocs = F.broadcast(
                    self.spark.createDataFrame(
                        pd.DataFrame({"gdoc": self._deleted_arr}), "gdoc long"
                    )
                )
            else:
                self._tomb_gdocs = self.tombstones.where(
                    _live_tombstone_col(self.manifest.segments)
                ).select((F.col("doc_id") + self._base_map()[F.col("segment")]).alias("gdoc"))
        return hits.join(self._tomb_gdocs, "gdoc", "left_anti")

    VOCAB_CACHE_MAX = 1_000_000

    def _vocab_pairs(self) -> tuple[np.ndarray, np.ndarray] | None:
        """(terms sorted asc, doc_freqs aligned) as arrays — or None when
        the dictionary is too large to hold on the driver."""
        if self._vocab is False:
            import pyarrow.dataset as pads

            segs = [
                pads.dataset(self.store.seg_path(s.name, "term_stats"), format="parquet")
                for s in self.manifest.segments
            ]
            if sum(d.count_rows() for d in segs) <= self.VOCAB_CACHE_MAX:
                # the footers' row sum bounds the distinct terms: no Spark
                # job — pyarrow reads (term, doc_freq), sums per term and
                # sorts by UTF-8 bytes (the order of Spark's orderBy and of
                # Python's str comparison, which searchsorted relies on)
                t = pa.concat_tables(d.to_table(columns=["term", "doc_freq"]) for d in segs)
                t = t.group_by("term").aggregate([("doc_freq", "sum")]).sort_by("term")
                terms = t["term"].to_numpy()
                dfs = t["doc_freq_sum"].to_numpy()
            else:
                # ONE job (r7): pull cap+1 sorted rows — the extra row
                # answers "too large?"; the pull materializes the cache the
                # no-vocab regime's expansions then query
                self.term_stats = self.term_stats.persist()
                rows = (
                    self.term_stats.orderBy("term")
                    .limit(self.VOCAB_CACHE_MAX + 1)
                    .collect()
                )
                terms = np.array([r["term"] for r in rows], dtype=object)
                dfs = np.array([r["doc_freq"] for r in rows], dtype=np.int64)
                if len(rows) <= self.VOCAB_CACHE_MAX:
                    self.term_stats.unpersist()
            if len(terms) > self.VOCAB_CACHE_MAX:
                self._vocab = None
            else:
                self._vocab = (terms, dfs.astype(np.int64, copy=False))
        return self._vocab

    def _stats_for(self, terms: list[str]) -> dict[str, int]:
        """Batched doc_freq lookup: one driver roundtrip for many terms."""
        vocab = self._vocab_pairs()
        if vocab is not None:
            vt, vd = vocab
            q = np.array(terms, dtype=object)
            if not vt.size or not q.size:
                return {}
            i = np.minimum(np.searchsorted(vt, q), vt.size - 1)
            ok = vt[i] == q
            return dict(zip(q[ok].tolist(), vd[i[ok]].tolist()))
        rows = self.term_stats.where(F.col("term").isin(*terms)).collect()
        return {r["term"]: r["doc_freq"] for r in rows}

    def _collect_expansion(self, df: DataFrame, limit: int) -> list[tuple[str, int]]:
        rows = (
            df.orderBy(F.desc("doc_freq"), F.asc("term")).limit(limit).collect()
        )
        return [(r["term"], r["doc_freq"]) for r in rows]

    def _leaf_term_cond(self, leaf: Node):
        """Catalyst Column predicate over a `term` column matching the leaf
        — applied to term_stats for expansion AND (no-vocab regime) directly
        to the postings scan as the distributed unscored tail, so tail terms
        never materialize on the driver (the reference's lazy-bitset tail,
        multiterm_query.cpp:36-71, never lists tail terms either)."""
        c = F.col("term")
        if isinstance(leaf, Term):
            return c == leaf.term
        if isinstance(leaf, Terms):
            return c.isin(*leaf.terms)
        if isinstance(leaf, Prefix):
            return c.startswith(leaf.prefix)
        if isinstance(leaf, Wildcard):
            return c.like(wildcard_to_like(leaf.pattern))
        if isinstance(leaf, Fuzzy):
            # length band first: |len(t)-len(q)| > d can never be within d,
            # and the band is far cheaper than the DP levenshtein — at d=3-4
            # the unbanded levenshtein over every dictionary term dominates
            return (
                F.abs(F.length(c) - F.lit(len(leaf.term))) <= leaf.distance
            ) & (F.levenshtein(c, F.lit(leaf.term)) <= leaf.distance)
        if isinstance(leaf, Range):
            cond = F.lit(True)
            if leaf.min_term is not None:
                cond = cond & (c >= leaf.min_term if leaf.include_min else c > leaf.min_term)
            if leaf.max_term is not None:
                cond = cond & (c <= leaf.max_term if leaf.include_max else c < leaf.max_term)
            return cond
        raise TypeError(f"not an expandable leaf: {leaf}")

    def _leaf_term_matches(self, leaf: Node) -> tuple[DataFrame, int]:
        """(term_stats rows matching the leaf, scored-terms limit)."""
        limit = (
            1
            if isinstance(leaf, Term)
            else len(leaf.terms)
            if isinstance(leaf, Terms)
            else leaf.max_terms
            if isinstance(leaf, Fuzzy)
            else leaf.scored_terms_limit
        )
        return self.term_stats.where(self._leaf_term_cond(leaf)), limit

    @staticmethod
    def _succ_upper(vt: np.ndarray, p: str) -> int:
        """Index of the smallest term > every p-prefixed string (increment
        the last non-max char of p) — the prefix range's upper bisect."""
        for j in range(len(p) - 1, -1, -1):
            if ord(p[j]) < 0x10FFFF:
                return int(np.searchsorted(vt, p[:j] + chr(ord(p[j]) + 1)))
        return len(vt)

    def _vocab_matches(self, leaf: Node) -> np.ndarray | None:
        """Indices (ascending, i.e. in term order) of the cached
        dictionary's terms an expandable leaf matches — bisect ranges for
        prefix / range, a compiled regex over the literal prefix's range
        for wildcard, per-length edit-distance DPs for fuzzy; zero Spark
        jobs. None when the dictionary is not cached."""
        vocab = self._vocab_pairs()
        if vocab is None:
            return None
        vt = vocab[0]
        if isinstance(leaf, Fuzzy):
            return self._vocab_fuzzy(leaf)
        if isinstance(leaf, (Term, Terms)):
            want = np.unique(np.array([leaf.term] if isinstance(leaf, Term) else list(leaf.terms), dtype=object))
            if not vt.size:
                return np.empty(0, np.int64)
            i = np.minimum(np.searchsorted(vt, want), vt.size - 1)
            return i[vt[i] == want]
        lo, hi = 0, len(vt)
        if isinstance(leaf, Prefix):
            lo, hi = int(np.searchsorted(vt, leaf.prefix)), self._succ_upper(vt, leaf.prefix)
        elif isinstance(leaf, Range):
            if leaf.min_term is not None:
                lo = int(np.searchsorted(vt, leaf.min_term, "left" if leaf.include_min else "right"))
            if leaf.max_term is not None:
                hi = int(np.searchsorted(vt, leaf.max_term, "right" if leaf.include_max else "left"))
        elif isinstance(leaf, Wildcard):
            import re

            rx = re.compile(
                "".join(".*" if ch == "*" else "." if ch == "?" else re.escape(ch) for ch in leaf.pattern),
                re.DOTALL,
            )
            # literal prefix (chars before the first meta) narrows the
            # candidate range exactly like the Prefix arm — a pattern like
            # 'spark*' never touches the rest of the dictionary
            lit = re.split(r"[*?]", leaf.pattern, maxsplit=1)[0]
            if lit:
                lo, hi = int(np.searchsorted(vt, lit)), self._succ_upper(vt, lit)
            cand = vt[lo:hi]
            hit = np.fromiter(map(bool, map(rx.fullmatch, cand)), dtype=bool, count=cand.size)
            return lo + np.flatnonzero(hit)
        else:
            raise TypeError(f"not an expandable leaf: {leaf}")
        return np.arange(lo, max(lo, hi))

    def _vocab_fuzzy(self, leaf: Fuzzy) -> np.ndarray:
        """Indices (ascending) of the cached dictionary's terms within
        `leaf.distance` edits of `leaf.term` (true Damerau with
        transpositions): only the length band |len(t) - len(q)| <= d can
        match, and each length's terms are one UTF-32 code matrix, so the
        batched DP (`_lev_rows` / `_damerau_rows`) runs on them as they
        are. The matrices are built on the first Fuzzy query of the
        engine (the reference walks its parametric DFA over the mmap'd
        FST, levenshtein_filter.cpp:283)."""
        if self._fuzzy_index is None:
            vt = self._vocab[0]
            self._fuzzy_index = {int(m.shape[1]): (idx, m) for idx, m in _utf32_groups(vt.tolist())}
        q, d = leaf.term, leaf.distance
        dist = _damerau_rows if leaf.transpositions else _lev_rows
        hits = []
        for la in range(max(0, len(q) - d), len(q) + d + 1):
            if la in self._fuzzy_index:
                idx, mat = self._fuzzy_index[la]
                hits.append(idx[dist(mat, q) <= d])
        return np.sort(np.concatenate(hits)) if hits else np.empty(0, np.int64)

    def _expansion(self, leaf: Node) -> tuple[np.ndarray, np.ndarray, int, object]:
        """(terms, doc_freqs, n_scored, tail_sel) of an expandable leaf:
        the first `n_scored` terms are the scored head — the top
        `scored_terms_limit` (Fuzzy: `max_terms`) by (doc_freq desc, term
        asc), the top_terms_collector analogue
        (core/search/top_terms_collector.hpp); exact terms are all scored,
        in term order.

        The rest is the unscored tail: the reference multiterm query
        scores only the collector's top terms and unions every OTHER
        matched term's postings as a zero-score bitset leg
        (multiterm_query.cpp:36-71 — lazy_bitset_iterator carries an empty
        `score`, so tail-only docs surface with score 0). By regime:
        - vocab cached (<= VOCAB_CACHE_MAX terms): the tail terms follow
          the head in the arrays (same order), tail_sel None;
        - vocab too large (the 100-TB regime): NEVER a driver list. Only
          the scored head is collected; the tail reaches the postings scan
          as tail_sel, a Catalyst predicate Column (prefix/wildcard/
          range/fuzzy) or a matched-terms DataFrame semi-join (Damerau),
          exactly the reference's lazy bitset which never lists tail terms
          either (multiterm_query.cpp:36-71, formats.hpp:228-229)."""
        idx = self._vocab_matches(leaf)
        if idx is not None:
            vt, vd = self._vocab
            if isinstance(leaf, (Term, Terms)):
                return vt[idx], vd[idx], idx.size, None
            idx = idx[np.lexsort((idx, -vd[idx]))]
            limit = leaf.max_terms if isinstance(leaf, Fuzzy) else leaf.scored_terms_limit
            return vt[idx], vd[idx], min(limit, idx.size), None
        if isinstance(leaf, Fuzzy) and leaf.transpositions:
            # no-vocab Damerau: distributed verify (executors,
            # mapInPandas); collect ONLY the scored head, the tail stays a
            # DataFrame. The verified frame is persisted and cached per
            # (term, distance): the head collect AND the tail semi-join
            # both consume it, and unpersisted that re-ran the full
            # term_stats scan + DP verify twice per query (r6 review)
            key = ("dam", leaf.term, leaf.distance)
            verified = self._proxy_cache.get(key)
            if verified is None:
                verified = self._damerau_matches_df(leaf).persist()
                self._proxy_cache[key] = verified
            head, tail = self._collect_expansion(verified, leaf.max_terms), verified.select("term")
        else:
            df, limit = self._leaf_term_matches(leaf)
            head = self._collect_expansion(df, limit)
            tail = None if isinstance(leaf, (Term, Terms)) else self._leaf_term_cond(leaf)
        terms = np.array([t for t, _ in head], dtype=object)
        return terms, np.array([d for _, d in head], dtype=np.int64), terms.size, tail

    def expand_tiered(self, leaf: Node) -> tuple[list[tuple[str, int]], object]:
        """(scored expansion [(term, doc_freq)], unscored tail) of
        `_expansion`: the tail is a list of terms when the dictionary is
        cached, else the tail selector (Column or DataFrame)."""
        terms, dfs, n, tail = self._expansion(leaf)
        head = list(zip(terms[:n].tolist(), dfs[:n].tolist()))
        return head, terms[n:].tolist() if tail is None else tail

    def expand(self, leaf: Node) -> list[tuple[str, int]]:
        """The scored terms [(term, doc_freq)] of a multiterm leaf (see
        `_expansion`)."""
        return self.expand_tiered(leaf)[0]

    def _damerau_matches_df(self, leaf: Fuzzy) -> DataFrame:
        """term_stats rows whose TRUE Damerau distance to leaf.term <= d,
        verified on the EXECUTORS (mapInPandas `_damerau_batch`) behind a
        JVM length-band + lev <= 2d prefilter (damerau <= lev always, and a
        transposition = 2 substitutions, so damerau <= d implies lev <= 2d;
        every edit op changes length by at most 1, so damerau >= |len diff|).
        Nothing is collected here — callers take a bounded head or semi-join
        the postings scan against it."""
        q, dmax = leaf.term, leaf.distance

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                dd = _damerau_batch(pdf["term"].tolist(), q)
                yield pdf[dd <= dmax]

        return (
            self.term_stats.where(
                (F.abs(F.length("term") - F.lit(len(q))) <= dmax)
                & (F.levenshtein(F.col("term"), F.lit(q)) <= 2 * dmax)
            )
            .select("term", "doc_freq")
            .mapInPandas(verify, "term string, doc_freq long")
        )

    # ------------------------------------------------------ physical pieces

    SCAN_COLS = (
        "segment",
        "term",
        "first_doc",
        "max_tf",
        "min_dl",
        "docs_bin",
        "tfs_bin",
    )

    # beyond this an IN-list becomes a driver-serialized Catalyst literal
    # blob (and can exceed codegen limits); switch to a broadcast semi-join
    # against the expansion terms (instance-overridable for plan tests)
    TERM_IN_MAX = 10_000

    def _term_filtered(self, df: DataFrame, terms: list[str]) -> DataFrame:
        """Restrict packed blocks to the expansion terms. Small expansions
        use `term IN (...)` (pushed into the parquet scan as PushedFilters);
        expansions past TERM_IN_MAX ship the term list as a broadcast
        left-semi join instead — a 100k-term wildcard/fuzzy expansion must
        not serialize a 100k-literal expression through every task binary
        (the expand_tiered scale seam, r3 VERDICT next-10)."""
        if len(terms) <= self.TERM_IN_MAX:
            return df.where(F.col("term").isin(*terms))
        tdf = self.spark.createDataFrame([(t,) for t in sorted(terms)], "term string")
        return df.join(F.broadcast(tdf), "term", "left_semi")

    # beyond this many scanned postings (summed doc_freq of the scan's
    # terms) `topk` leaves the driver-local site for Spark; 0 sends every
    # query that scans anything to Spark (instance-overridable for tests).
    # From scripts/local_budget_sweep.py on 4 cores: one Term's local wall
    # is below Spark's up to 500k postings and above it at 1M
    LOCAL_MAX_POSTINGS = 500_000

    def _sums_plan(
        self,
        specs: list[tuple],
        *,
        k: int | None = None,
        prune: bool = False,
        mode: str | None = None,
    ) -> _ScanPlan | None:
        """Scan plan of the sums kernel for `_query_spec` results sharing
        one scan (qid = position in `specs`; a single query is a batch of
        one): legs, bounds, pruning and grouping decided once for both
        execution sites. A spec whose legs are a `_PhraseLeg` is a phrase
        leg: grouped, never pruned, and the reason the scan reads
        `pos_bin`. None matches nothing: no leg AND no distributed tail
        (with a tail predicate the scan must still run — scored_terms_limit
        0 in the no-vocab regime surfaces every matched doc at score 0,
        identical to the vocab path, r6 review).

        Every term leg of one scorer family — across the queries of a
        batch, and the unscored tail's zero scorer — is one array scorer
        in the kernel's leg table (`_leg_table`).

        Only a width-1 plan prunes (block-max bounds are per query) and
        carries a tail selector (spec[4], no-vocab multiterm regime): a
        Column predicate over `term` or a DataFrame of matched terms
        selecting ALL matched blocks (scored head included) straight off
        the postings scan — predicates like `term LIKE 'pre%'` push into
        parquet; a term-DataFrame becomes a semi-join. Blocks whose term
        has no scored leg score ZERO via a tail leg in the kernel; no
        tail term ever reaches the driver. Such a plan runs on Spark only;
        `topk_batch` never batches it."""
        zero = PreciseConstTermScorer if self.precise else ConstTermScorer
        parts, leg_dfs, phrases, ph_terms, ph_dfs = [], [], [], [], []
        for qid, spec in enumerate(specs):
            L = spec[0]
            if isinstance(L, _PhraseLeg):
                phrases.append((qid, L))
                ph_terms += list(L.dfs)
                ph_dfs += list(L.dfs.values())
                continue
            n = L.n_scored
            leg_dfs.append(L.dfs)
            parts.append((qid, L.terms[:n], L.scorer))
            parts.append((qid, L.terms[n:], zero(np.zeros(L.terms.size - n, zero.dtype))))
        legs0, min_match, _, merge, tail_sel = specs[0]
        shared = len(specs) > 1 or bool(phrases)
        if shared:
            tail_sel, prune = None, False
        if not sum(len(t) for _, t, _ in parts) and not phrases and tail_sel is None:
            return None
        grouped = shared or legs0.terms.size > 1 or min_match > 1 or tail_sel is not None
        if prune and not legs0.scorer.monotone_dl:
            # (max_tf, min_dl) does not dominate a block for scorers that
            # reward longer docs (legacy-Norm BM25) — skip nothing
            prune = False
        if prune and legs0.terms.size > WAND_MAX_LEGS:
            # wide multiterm expansions (wildcard/prefix, hundreds+ of
            # legs): the sum-merge bound carries every OTHER leg's
            # whole-list upper bound, so it sits far above any reachable
            # threshold and never skips — while computing per-term block
            # bounds costs real time (measured: a 1,024-leg wildcard ran
            # ~0.4 s FASTER with wand=False). Pruning is result-neutral,
            # so cap it by leg count; narrow booleans keep their 5x
            # kernel-level WAND win.
            prune = False
        legs, idx = _leg_table(
            parts,
            ph_terms,
            (0, zero(np.zeros(1, zero.dtype))) if tail_sel is not None else None,
        )
        n_terms = legs.terms.size
        dfs = np.zeros(n_terms, dtype=np.int64)
        dfs[idx] = np.concatenate(leg_dfs) if leg_dfs else []
        ph_idx = np.searchsorted(legs.terms, np.array(ph_terms, dtype=object))
        dfs[ph_idx] = ph_dfs
        # queries subscribed per term: its legs, plus the phrases reading it
        subs = np.diff(legs.ptr)[:n_terms] + np.bincount(ph_idx, minlength=n_terms)
        other_ub = None
        if prune:
            # whole-list bounds of the width-1 plan's terms, in its legs'
            # order (tail terms, zero scorers, bound 0)
            ubs = np.concatenate((legs0.scorer.term_ubs(), np.zeros(legs0.terms.size - legs0.n_scored)))
            default = 0.0
            if ubs.size == 1 and tail_sel is None:
                # single leg: the block's own (max_tf, min_dl) bound
                # suffices — no whole-list bound needed (works for any
                # scorer, incl. TFIDF)
                oub = np.zeros(1)
            elif merge == "sum":
                # tail legs (zero scorer) contribute 0 to every sum bound,
                # so the scored totals remain valid with a distributed
                # tail; a tail block's own bound is 0 + the whole total
                total = sum(ubs.tolist())
                prune = bool(np.isfinite(total))  # no closed form (TFIDF)
                oub, default = (total - ubs if prune else ubs), total
            elif merge == "max":
                # the largest bound of the OTHER legs
                top = np.argsort(-ubs, kind="stable")[:2]
                default = ubs[top[0]] if top.size else -np.inf
                oub = np.full(ubs.size, default)
                if top.size:
                    oub[top[0]] = ubs[top[1]] if top.size > 1 else -np.inf
                prune = bool(np.isfinite(ubs).all())
            else:  # min-merge: block-local bound only; none with a tail
                oub = np.zeros(ubs.size)
                prune = tail_sel is None
            other_ub = np.full(n_terms + 1, default)
            other_ub[idx] = oub
        counters: dict = {}
        kernel = _sums_kernel(
            legs,
            np.array([s[1] for s in specs], dtype=np.int64),
            np.array([s[2] for s in specs], dtype=np.float64),
            np.array([_MERGE_CODE[s[3]] for s in specs], dtype=np.int64),
            self.seg_base,
            k=k,
            mode=mode or self.leaf_mode,
            deleted=self._kernel_deleted if self._deleted_inline else None,
            grouped=grouped,
            prune=prune,
            other_ub=other_ub,
            counters=counters,
            phrases=phrases,
        )
        cols = self.SCAN_COLS + (("pos_bin",) if phrases else ())
        n_scored = sum(len(t) for _, t, _ in parts[::2])
        n_tail = None if tail_sel is not None else sum(len(t) for _, t, _ in parts[1::2])
        return _ScanPlan(
            kernel, legs.terms, subs, dfs, cols, grouped, prune, counters,
            sorted(set(ph_terms)), n_scored + len(phrases), n_tail,
        )

    def _spark_hits(self, plan: _ScanPlan, tail_sel=None) -> DataFrame:
        """Spark site: parquet scan (`term IN` pushdown, or the no-vocab
        tail selector) -> when the kernel needs grouped rows, the docmap's
        norm rows joined in and one (segment, chunk) repartition, each
        group's norm rows sorted first -> the plan's kernel in
        mapInArrow. A single-term kernel runs in the scan tasks and reads
        the docmap lens itself."""
        # explicit projection: mapInArrow does not push column pruning into
        # the scan, and pos_bin (the largest column) is read only for a
        # phrase leg — and nulled before the shuffle for every other term
        if tail_sel is None:
            blocks = self._term_filtered(self.postings, plan.terms)
        elif isinstance(tail_sel, DataFrame):
            blocks = self.postings.join(
                tail_sel.select("term"), "term", "left_semi"
            )
        else:
            blocks = self.postings.where(tail_sel)
        blocks = blocks.select(*plan.cols)
        if plan.pos_terms and len(plan.pos_terms) < len(plan.terms):
            blocks = blocks.withColumn(
                "pos_bin", F.when(F.col("term").isin(*plan.pos_terms), F.col("pos_bin"))
            )
        if plan.grouped:
            blocks = with_norm_rows(
                blocks, self._norm_rows, self.chunk_bits, self.spark.sparkContext.defaultParallelism
            )
        # (r3: the r2 single-term sortWithinPartitions(max_tf desc) that
        # tried to tighten the threshold early cost more than it saved —
        # the pool fills after the first 128-doc block anyway, and the sort
        # added a stage; measured wand > nowand on HighTerm because of it)
        hits = blocks.mapInArrow(plan.kernel, HITS_SCHEMA)
        if not self._deleted_inline:
            hits = self._mask(hits)
        return hits

    def _local_blocks(self, plan: _ScanPlan) -> tuple[pa.Table | None, list[int]]:
        """Driver-local site input: the row groups whose footer term range
        holds one of the plan's terms, served from the engine's decoded
        postings cache (`_PostingsCache`, which reads only the (row group,
        column) pairs it lacks, over each file's cached footer), cut to
        those terms' rows — each group's wanted terms (those within its
        footer range) looked up in its cached `_TermRuns`, a term-sorted
        group's one run of rows a zero-copy slice, or on a group's first
        read hashed against its term column — and the plan's columns, in
        (segment, chunk, term, first_doc) order — the grouping the Spark
        site's repartition and sort provide, with a deterministic order
        inside each group — as one Arrow table (one chunk per column),
        `segment` dictionary-encoded and `chunkid` added. Returns the
        blocks (None: no row matched) and [row groups picked, row groups
        in the files, picked groups served with no parquet read]."""
        want = plan.terms
        cols = [c for c in plan.cols if c != "segment"]
        tables, sizes, chunks = [], [], []
        counts = [0, 0, 0]
        for name, files in self._postings_footers.items():
            parts, codes = [], []
            for path, md, lo, hi, known in files:
                # the wanted terms within each group's term range
                start = np.where(known, np.searchsorted(want, lo), 0)
                end = np.where(known, np.searchsorted(want, hi, "right"), want.size)
                rgs = np.flatnonzero(start < end).tolist()
                counts[0] += len(rgs)
                counts[1] += known.size
                if not rgs:
                    continue
                got, n_cached = self._postings_cache.row_groups(path, md, rgs, cols)
                counts[2] += n_cached
                for g, (batch, runs) in zip(rgs, got):
                    w = want[start[g] : end[g]]
                    if runs is None:
                        # a group's first read: one hash lookup of its
                        # terms (its term index waits for a second use)
                        code = pc.index_in(batch["term"], value_set=pa.array(w, pa.string()))
                        if code.null_count < len(code):
                            codes.append(pc.drop_null(code).to_numpy() + start[g])
                            parts.append(batch.filter(code.is_valid()))
                        continue
                    code, first, n = runs.find(w)
                    if not code.size:
                        continue
                    codes.append(np.repeat(code + start[g], n))
                    if runs.rows is None and first[-1] + n[-1] - first[0] == n.sum():
                        # one run of rows (a term, a prefix's terms): a
                        # zero-copy slice
                        parts.append(batch.slice(first[0], n.sum()))
                    else:
                        sel = np.repeat(first - np.cumsum(n) + n, n) + np.arange(n.sum())
                        parts.append(batch.take(sel if runs.rows is None else runs.rows[sel]))
            if not parts:
                sizes.append(0)
                continue
            t = pa.Table.from_batches(parts)
            # the codes index the sorted terms: one integer sort, and no
            # reorder when the rows already are in that order (a
            # term-sorted file of one chunk)
            fd = t["first_doc"].to_numpy()
            chunk = fd >> self.chunk_bits
            order = np.lexsort((fd, np.concatenate(codes), chunk))
            if (np.diff(order) < 0).any():
                t, chunk = t.take(order), chunk[order]
            tables.append(t)
            sizes.append(t.num_rows)
            chunks.append(chunk)
        if not tables:
            return None, counts
        tbl = pa.concat_tables(tables).combine_chunks()
        seg = pa.DictionaryArray.from_arrays(
            pa.array(np.repeat(np.arange(len(sizes), dtype=np.int32), sizes)), self._segment_names
        )
        tbl = tbl.append_column("segment", seg)
        return tbl.append_column("chunkid", pa.array(np.concatenate(chunks))), counts

    def _site(self, plan: _ScanPlan | None, one_scan: bool = True) -> tuple[int | None, bool]:
        """Execution-site decision shared by `topk` and `topk_batch`:
        (scan estimate, run on the driver?). `one_scan` is False for a
        query that is not one driver-readable scan. The estimate, Σ
        doc_freq(t) x the queries subscribed to t over the plan's terms
        (0 without a plan), exists only while the dictionary is cached;
        the driver runs the scan when the tombstones ride in the kernel
        and the estimate is at most LOCAL_MAX_POSTINGS."""
        if not one_scan or not isinstance(self._vocab, tuple):
            return None, False
        est = int(plan.dfs @ plan.subs) if plan is not None else 0
        return est, self._deleted_inline and est <= self.LOCAL_MAX_POSTINGS

    def _local_run(self, plan: _ScanPlan | None, run: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Driver-local site: the plan's kernel over `_local_blocks` as one
        in-process partition, whose per-query pools already are the final
        top k. Returns (qid, gdoc, score) arrays by (qid, score desc, gdoc
        asc), and adds the scan's row groups [picked, total], the picked
        groups served from the postings cache with no parquet read
        (`row_groups_cached`) and the kernel's block counters to the run
        record."""
        run["row_groups"], run["row_groups_cached"] = [0, 0], 0
        hits = None
        if plan is not None:
            blocks, (n_picked, n_total, n_cached) = self._local_blocks(plan)
            run["row_groups"], run["row_groups_cached"] = [n_picked, n_total], n_cached
            if blocks is not None:
                hits = next(plan.kernel(iter(blocks.to_batches())), None)
            run.update({key: plan.counters.get(key, 0) for key in ("blocks", "skipped")})
        if hits is None:
            return np.empty(0, np.int32), np.empty(0, np.int64), np.empty(0)
        qid, gd, sc = (c.to_numpy() for c in hits.columns)
        order = np.lexsort((gd, -sc, qid))
        return qid[order], gd[order], sc[order]

    def _term_legs(self, terms, dfs, boosts=1.0, n_scored: int | None = None) -> _TermLegs:
        """Legs of `terms` (doc_freqs `dfs`), the first `n_scored` (all by
        default) scored by one array scorer under `boosts`."""
        terms = np.asarray(terms, dtype=object)
        dfs = np.asarray(dfs, dtype=np.int64)
        n = terms.size if n_scored is None else n_scored
        return _TermLegs(terms, dfs, self.scorer.prepare_terms(self.field, dfs[:n], boosts), n)

    # -------------------------------------------------------- flat queries

    def _query_spec(self, node: Node, boost: float = 1.0) -> tuple[_TermLegs | _PhraseLeg, int, float, str, object] | None:
        """(legs, min_match, const_add, merge, tail_sel) for single-scan
        shapes: exact/multiterm leaves, flat And/Or of exact terms, and
        phrase-family leaves, whose legs are a `_PhraseLeg` instead of
        `_TermLegs` (`_phrase_spec`). None when the node needs the general
        evaluator (nesting, Not). tail_sel is None (the unscored tail, if
        any, is in the legs — vocab regime) or a Column predicate /
        term-DataFrame selecting ALL matched terms for the postings scan
        (no-vocab regime; terms outside the legs score zero in the
        kernel)."""
        if isinstance(node, (Phrase, SamePosition, VarPhrase)):
            return self._phrase_spec(node, boost)
        if isinstance(node, (Term, Terms, Prefix, Wildcard, Fuzzy, Range)):
            terms, dfs, n, tail_sel = self._expansion(node)
            boosts = boost * node.boost
            if isinstance(node, Terms) and node.boosts is not None:
                # per-term boosts (by_terms_options::search_term boost)
                if len(node.boosts) != len(node.terms):
                    raise ValueError("Terms.boosts must align with Terms.terms")
                tb = dict(zip(node.terms, node.boosts))
                boosts = boosts * np.array([tb.get(t, 1.0) for t in terms[:n].tolist()], dtype=np.float64)
            # the unscored tail (reference lazy_bitset_iterator) is matched
            # but contributes score 0 — tail-only docs surface at score 0
            legs = self._term_legs(terms, dfs, boosts, n)
            if isinstance(node, Terms):
                return legs, node.min_match, 0.0, node.merge, tail_sel
            return legs, 1, 0.0, "sum", tail_sel
        if (
            isinstance(node, (And, Or))
            and all(isinstance(c, Term) for c in node.children)
            and len({c.term for c in node.children}) == len(node.children)
        ):
            stats = self._stats_for([c.term for c in node.children])
            kids = [c for c in node.children if c.term in stats]
            if isinstance(node, And):
                if len(kids) < len(node.children):
                    return self._term_legs([], []), 1, 0.0, "sum", None  # absent conjunct -> Empty
                need = len(node.children)
                const = node.const_boost * boost
            else:
                need = node.min_match
                const = 0.0
            legs = self._term_legs(
                [c.term for c in kids],
                [stats[c.term] for c in kids],
                boost * node.boost * np.array([c.boost for c in kids], dtype=np.float64),
            )
            return legs, need, const, node.merge, None
        return None

    def _plan_hits(self, plan: _ScanPlan | None, tail_sel=None) -> DataFrame:
        """Spark-site DataFrame(gdoc, score) of a plan. Distinct gdoc."""
        if plan is None:
            return self._empty_hits()
        return self._spark_hits(plan, tail_sel).select(
            "gdoc", F.col("score").cast(self._score_t).alias("score")
        )

    # -------------------------------------------------------------- phrase

    def _phrase_spec(self, leaf: Node, boost: float) -> tuple:
        """`_query_spec` of a phrase-family leaf: a phrase leg with
        relative offsets. A single one-term slot is a term query and specs
        as one; a slot with no indexed term matches nothing (no legs)."""
        self._require_stream("pos_bin", "with_positions=True")
        if isinstance(leaf, VarPhrase):
            # expand each slot leaf against the term dictionary
            slot_terms = [[t for t, _ in self.expand(n)] for n in leaf.slots]
        else:
            slot_terms = [[t] for t in leaf.terms]
        offsets = getattr(leaf, "offsets", None)
        if isinstance(leaf, SamePosition):
            offsets = [0] * len(slot_terms)
        elif offsets is None:
            offsets = range(len(slot_terms))
        elif len(offsets) != len(slot_terms):
            raise ValueError("Phrase.offsets must align with Phrase.terms")
        if len(slot_terms) == 1 and len(slot_terms[0]) == 1:
            stats = self._stats_for(slot_terms[0])
            return self._term_legs(list(stats), list(stats.values()), boost * leaf.boost), 1, 0.0, "sum", None
        all_terms = sorted({t for ts in slot_terms for t in ts})
        stats = self._stats_for(all_terms)
        if any(all(t not in stats for t in ts) for ts in slot_terms):
            return self._term_legs([], []), 1, 0.0, "sum", None
        slot_terms = [[t for t in ts if t in stats] for ts in slot_terms]
        # phrase idf = sum of matched member idfs (pinned semantics, shared
        # with tests/oracle.py and plans/parity.py phrase_topk)
        matched = [t for ts in slot_terms for t in ts]
        if self.precise:
            idf_sum = sum(self.scorer.idf(stats[t], self.field) for t in matched)
        else:
            idf_sum = float(
                np.float32(
                    sum(np.float32(self.scorer.idf(stats[t], self.field)) for t in matched)
                )
            )
        shim = _phrase_term_scorer(self.scorer, self.field, idf_sum, boost * leaf.boost)
        lo = min(offsets, default=0)
        dfs = {t: stats[t] for ts in slot_terms for t in ts}
        return _PhraseLeg(slot_terms, [o - lo for o in offsets], shim, dfs), 1, 0.0, "sum", None

    def _empty_hits(self) -> DataFrame:
        return self._local_frame({"gdoc": np.empty(0, np.int64), "score": np.empty(0)})

    def _local_frame(self, cols: dict[str, np.ndarray]) -> DataFrame:
        """DataFrame of numpy ([query,] gdoc, score) columns, in that
        order: its collect(), toPandas() and count() answer from the
        arrays with no JVM call; any other use builds the local relation
        once (`_LocalFrame`), whose collect() launches no Spark job."""
        fields = [
            StructField("gdoc", LongType()),
            StructField("score", DoubleType() if self.precise else FloatType()),
        ]
        if "query" in cols:
            fields.insert(0, StructField("query", StringType()))
        return _LocalFrame(self.spark, cols, StructType(fields))

    # ------------------------------------------------------------- boolean

    def _eval(self, node: Node, boost: float = 1.0) -> DataFrame:
        node = normalize(node)
        if isinstance(node, Empty):
            return self._empty_hits()
        if isinstance(node, All):
            b = boost * node.boost
            lit = float(b) if self.precise else float(np.float32(b))
            return self.doc_universe().withColumn(
                "score", F.lit(lit).cast(self._score_t)
            )
        if isinstance(node, Proxy):
            # cached filter (proxy_filter.cpp): compute the child's scored
            # hits ONCE per engine, persist, reuse for every equal Proxy
            key = (repr(node.child), boost * node.boost, self._score_t)
            cached = self._proxy_cache.get(key)
            if cached is None:
                cached = self._eval(node.child, boost * node.boost).persist()
                self._proxy_cache[key] = cached
            return cached
        if isinstance(node, Not):
            # lone NOT = all docs minus child (boolean_filter.cpp:83-87)
            child = self._eval(node.child, boost)
            b = boost * node.boost
            lit = float(b) if self.precise else float(np.float32(b))
            return (
                self.doc_universe()
                .join(child.select("gdoc"), "gdoc", "left_anti")
                .withColumn("score", F.lit(lit).cast(self._score_t))
            )
        if isinstance(node, And) and any(isinstance(c, Not) for c in node.children):
            # exclusion legs: anti-join, no score contribution
            # (core/search/exclusion.hpp:33; boolean_query.cpp:127-153)
            negs = [c for c in node.children if isinstance(c, Not)]
            poss = tuple(c for c in node.children if not isinstance(c, Not))
            if poss:
                out = self._eval(
                    And(
                        poss,
                        boost=node.boost,
                        const_boost=node.const_boost,
                        merge=node.merge,
                    ),
                    boost,
                )
            else:  # And(Not x, Not y) -> all docs minus the union
                out = self._eval(All(boost=node.boost), boost)
            for n in negs:
                excl = self._eval(n.child, 1.0)
                out = out.join(excl.select("gdoc"), "gdoc", "left_anti")
            return out
        spec = self._query_spec(node, boost)
        if spec is not None:
            return self._plan_hits(self._sums_plan([spec]), spec[4])
        if isinstance(node, (And, Or)):
            poss = list(node.children)
            legs = [self._eval(c, boost * node.boost) for c in poss]
            if not legs:
                return self._empty_hits()
            u = legs[0]
            for df in legs[1:]:
                u = u.unionByName(df)
            agg_fn = {"sum": F.sum, "max": F.max, "min": F.min}[node.merge]
            agg = u.groupBy("gdoc").agg(
                agg_fn("score").alias("_s"), F.count("*").alias("_n")
            )
            need = len(poss) if isinstance(node, And) else node.min_match
            agg = agg.where(F.col("_n") >= need)
            const = node.const_boost if isinstance(node, And) else 0.0
            if const:
                cl = float(const * boost) if self.precise else float(np.float32(const * boost))
                score = F.col("_s") + F.lit(cl)
            else:
                score = F.col("_s")
            return agg.select("gdoc", score.cast(self._score_t).alias("score"))
        raise TypeError(f"unknown node {node}")

    # ---------------------------------------------------------------- API

    def execute(self, node: Node) -> DataFrame:
        """All hits with scores (unordered)."""
        return self._eval(node)

    def _final_score(self, col):
        """The comparator-visible score: float32 (product) or the gate
        oracle's 6-dp rounding (precise mode, parity.py expression)."""
        if self.precise:
            return F.expr(
                f"CAST(floor(({col}) * 1000000e0 + 0.5e0) / 1000000e0 AS DOUBLE)"
            )
        return F.col(col).cast("float")

    def nested_topk(
        self,
        child_node: Node,
        k: int = 10,
        parent_col: str = "source",
        merge: str = "avg",
        min_children: int = 1,
        max_children: int | None = None,
    ) -> DataFrame:
        """ByNestedFilter analogue (core/search/nested_filter.cpp:693): a
        PARENT matches when the number of its children matching
        `child_node` lies in [min_children, max_children]; the parent's
        score merges its matching children's scores (the reference's
        ScoreMode kSum/kMax/kMin/kAvg).

        Spark-first restatement: the reference needs doc-block adjacency
        (children stored physically before their parent) because it
        streams one segment; here the columnstore (docmap) carries the
        parent key per child, so the block join IS a hierarchical
        aggregation — child hits join their parent key and reduce. Output:
        (parent, n_children, score) by (score desc, parent asc) limit k."""
        hits = self._eval(normalize(child_node))
        parents = self.store.read_union(self.spark, "docmap", list(self.seg_base)).select(
            (F.col("doc_id") + self._base_map()[F.col("segment")]).alias("gdoc"),
            F.col(parent_col).alias("parent"),
        )
        agg_fn = {
            "sum": F.sum("score"),
            "max": F.max("score"),
            "min": F.min("score"),
            # avg as SUM/COUNT — the exact expression the oracle evaluates
            "avg": F.sum("score") / F.count("*"),
        }[merge]
        agg = (
            hits.join(parents, "gdoc")
            .groupBy("parent")
            .agg(
                F.count("*").alias("n_children"),
                agg_fn.cast("double").alias("_s"),
            )
            .where(F.col("n_children") >= min_children)
        )
        if max_children is not None:
            agg = agg.where(F.col("n_children") <= max_children)
        out = agg.select(
            "parent", "n_children", self._final_score("_s").alias("score")
        )
        return out.orderBy(F.desc("score"), F.asc("parent")).limit(k)

    def prepare_dictionary(self) -> None:
        """Eagerly pull the term dictionary to the driver (when it fits) —
        the engine-open warm-up a server would do once; afterwards every
        Term/Prefix/Wildcard/Range expansion is a local lookup with no
        Spark job."""
        self._vocab_pairs()

    def pin_postings(self) -> "SearchEngine":
        """Opt-in hot-index posture (r5): persist the postings block table
        in Spark storage memory so Spark-site queries scan cached columnar
        batches instead of re-reading parquet — the serving-time analogue
        of the reference keeping its index mmapped. Measured ~10% off
        per-query latency at bench scale. Use ONLY when the index fits
        cluster storage memory comfortably; for a 100-TB index rely on the
        parquet scan's term-IN row-group pruning instead (the default).

        Two caches, one per site: this one serves the Spark site only.
        The driver-local site never reads the Spark relation; it serves
        its row groups from the engine's own decoded postings cache
        (`_PostingsCache`, always on, bounded by
        `segments.LOCAL_BUILD_MAX_BYTES`), pinned or not."""
        self.postings = self.postings.persist()
        self.postings.count()  # materialize eagerly, off the query path
        return self

    def _segments_without(self, col: str) -> list[str]:
        """Committed segments whose postings parquet footer lacks `col`
        (from the engine's cached footers, once per stream)."""
        if col not in self._streams_missing:
            self._streams_missing[col] = [
                s.name
                for s in self.manifest.segments
                if col not in self._postings_footers[s.name][0][1].schema.names
            ]
        return self._streams_missing[col]

    def _require_stream(self, col: str, hint: str) -> None:
        """EVERY committed segment must carry the stream — a mixed store is
        openable for scoring (read_union null-fills), but a stream consumer
        would silently omit the plain segments' docs. Fail loudly instead."""
        missing = self._segments_without(col)
        if missing:
            raise ValueError(
                f"segments {missing} lack the {col} stream (build with {hint}); "
                "results would silently omit their docs — rebuild those "
                "segments or merge like with like"
            )

    def offsets(self, terms: list[str]) -> DataFrame:
        """Per-(doc, term) occurrence character spans from the index's
        offset stream — the highlighting-consumer surface (reference .pay
        offsets, formats_10.cpp:166-267). Requires a segment built with
        with_offsets=True. Returns (gdoc, term, starts array<long>,
        lens array<int>), starts indexing the analyzer-cased text."""
        self._require_stream("off_bin", "with_offsets=True")
        seg_base = self.seg_base

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # ONE varint decode per stream per Arrow batch, doc ids and
            # occurrence starts by cumsum-with-reset at block/doc
            # boundaries; no per-row Python loop.
            for pdf in batches:
                if not pdf["doc_count"].sum():
                    continue
                docs, row_of_doc = _decode_rows_docs(pdf, seg_base)
                tfs = varint_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
                ov = varint_decode(b"".join(pdf["off_bin"])).astype(np.int64)
                sd = ov[0::2]  # start deltas (reset at each doc start)
                ln = ov[1::2]
                tok_bounds = np.cumsum(tfs)
                doc_tok_start = np.concatenate(([0], tok_bounds[:-1]))
                c = np.cumsum(sd)
                adjust = np.repeat(c[doc_tok_start] - sd[doc_tok_start], tfs)
                st = c - adjust
                yield pd.DataFrame(
                    {
                        "gdoc": docs,
                        "term": pdf["term"].to_numpy()[row_of_doc],
                        "starts": np.split(st, tok_bounds[:-1]),
                        "lens": np.split(ln.astype(np.int32), tok_bounds[:-1]),
                    }
                )

        from pyspark.sql.types import ArrayType, StringType

        schema = StructType(
            [
                StructField("gdoc", LongType()),
                StructField("term", StringType()),
                StructField("starts", ArrayType(LongType())),
                StructField("lens", ArrayType(IntegerType())),
            ]
        )
        blocks = self.postings.where(F.col("term").isin(*terms)).select(
            "segment", "term", "doc_count", "docs_bin", "tfs_bin", "off_bin"
        )
        return self._mask(blocks.mapInPandas(kernel, schema))

    def payloads(self, terms: list[str]) -> DataFrame:
        """Per-(doc, term) occurrence payload bytes from the index's
        payload stream — the generic half of the reference .pay
        (formats_10.cpp:166-267 pay_buf; written by
        build_segment(payload_fn=...)). Returns (gdoc, term, payloads
        array<binary>), one element per occurrence in position order."""
        self._require_stream("pay_bin", "payload_fn=...")
        seg_base = self.seg_base

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # Mixed-store rows (paylen_bin null = plain segment) drop via
            # one boolean mask, then ONE varint decode per stream;
            # per-occurrence byte spans come from offset arithmetic over
            # the concatenated payload buffer.
            for pdf in batches:
                pdf = pdf[pdf["paylen_bin"].notna()]
                if not pdf["doc_count"].sum():
                    continue
                docs, row_of_doc = _decode_rows_docs(pdf, seg_base)
                tfs = varint_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
                lens = varint_decode(b"".join(pdf["paylen_bin"])).astype(np.int64)
                buf = np.frombuffer(b"".join(pdf["pay_bin"]), dtype=np.uint8)
                b0 = np.concatenate(([0], np.cumsum(lens)))
                # one C-sliced array per occurrence, then regroup per doc
                pieces = [p.tobytes() for p in np.split(buf, b0[1:-1])]
                tok_bounds = np.concatenate(([0], np.cumsum(tfs)))
                payloads = [
                    pieces[s:e] for s, e in zip(tok_bounds[:-1], tok_bounds[1:])
                ]
                yield pd.DataFrame(
                    {
                        "gdoc": docs,
                        "term": pdf["term"].to_numpy()[row_of_doc],
                        "payloads": payloads,
                    }
                )

        from pyspark.sql.types import ArrayType, BinaryType, StringType

        schema = StructType(
            [
                StructField("gdoc", LongType()),
                StructField("term", StringType()),
                StructField("payloads", ArrayType(BinaryType())),
            ]
        )
        blocks = self.postings.where(F.col("term").isin(*terms)).select(
            "segment", "term", "doc_count", "docs_bin", "tfs_bin", "paylen_bin", "pay_bin"
        )
        return self._mask(blocks.mapInPandas(kernel, schema))

    def topk(self, node: Node, k: int = 10, wand: bool = True) -> DataFrame:
        """Top-k by (score desc, gdoc asc). Single-scan queries (term /
        multiterm / flat boolean / min-match / phrase-family leaf) run the
        sums kernel as a batch of one — block-max WAND (reference
        wanderator + block_disjunction) for the term shapes, a phrase leg
        for phrases; other shapes fall back to the general evaluator +
        global TakeOrdered. A single scan with kernel-resident tombstones
        and at most LOCAL_MAX_POSTINGS scanned postings runs on the driver
        (zero Spark jobs) and returns a local result: its collect(),
        toPandas() and count() answer from arrays with no JVM call, and
        any other use builds the local relation once. The choice is
        recorded in `last_run`, with a single scan's scored `legs` and
        unscored `tail_terms` (None: a distributed tail); a local run also
        records the row groups it read ([read, total]) and the kernel's
        `blocks` / `skipped` counters."""
        hits, self.last_run = self._topk(node, k, wand)
        _log.debug("topk %s", self.last_run)
        return self._local_frame(hits) if isinstance(hits, dict) else hits

    def _topk(self, node: Node, k: int, wand: bool) -> tuple[dict | DataFrame, dict]:
        """(top k, run record) of one query: numpy (gdoc, score) columns
        when it ran on the driver, a Spark DataFrame otherwise."""
        n = normalize(node)
        spec = self._query_spec(n)
        plan = None
        if spec is not None:
            plan = self._sums_plan(
                [spec],
                # per-partition pools/caps count docs the kernel can't see
                # as deleted when the tombstone set exceeds even the
                # broadcast cap — the post-kernel anti-join mask could then
                # strip survivors below k while live docs were already
                # discarded. No kernel top-k in that regime (r6 review); up
                # to MAX_BCAST_TOMBSTONES the mask rides a Spark broadcast
                # and pooling + WAND stay on (r7, VERDICT r6 next-1)
                k=k if self._deleted_inline else None,
                prune=wand and self._deleted_inline,
                mode=self.final_mode,
            )
        one_scan = spec is not None and spec[4] is None
        est, local = self._site(plan, one_scan)
        run = {
            "path": "local" if local else "spark",
            "postings_est": est,
            "tombstone_tier": self._tombstone_tier(),
            "wand": bool(plan and plan.prune),
        }
        if spec is not None:
            run["legs"] = plan.n_legs if plan else 0
            run["tail_terms"] = plan.n_tail if plan else 0
        if local:
            _, gd, sc = self._local_run(plan, run)
            return {"gdoc": gd, "score": sc}, run
        if spec is None:
            hits = self._eval(n).select("gdoc", self._final_score("score").alias("score"))
        else:
            hits = self._plan_hits(plan, spec[4])
        return hits.orderBy(F.desc("score"), F.asc("gdoc")).limit(k), run

    def topk_batch(self, queries: dict[str, Node], k: int = 10) -> DataFrame:
        """Evaluate MANY queries against ONE shared postings scan.

        Returns DataFrame(query, gdoc, score): per-query top-k by
        (score desc, gdoc asc), identical row-for-row to calling
        `topk(node, k)` per query — pinned by test_round6.

        The 100-TB serving shape: a search tier never runs one query at a
        time — it drains a batch. The batch costs ONE scan filtered by the
        UNION of all expansions and one kernel pass that decodes each
        matched block once and scores it for every subscribed query
        (term -> [qid] fan-out, phrase legs, per-query top-k pools). The
        reference has no batch API (its per-query cost is a mmap'd
        in-process walk, ~free); where a scan dominates, amortizing it IS
        the idiomatic restatement.

        The shared scan takes `topk`'s site decision (`_site`) with a
        fan-out-weighted estimate (a term's doc_freq counts once per
        subscribed query). On the driver it is `topk`'s local path with
        many queries. On Spark it is a `term IN` pushdown / broadcast
        semi-join scan, one (segment, chunk) repartition of packed blocks,
        the kernel, and one window ranking the ~k pool survivors per query
        per partition.

        Every single-scan shape joins the shared scan (term / multiterm /
        flat And/Or incl. min_match, per-term boosts, kmax/kmin merges,
        Phrase / VarPhrase / SamePosition). The rest (Not, nesting,
        no-vocab distributed-tail multiterm) fall back to per-query `topk`
        on Spark and union in. Without fallbacks a locally run batch
        returns a local result, like `topk`'s. `last_run` records {path,
        postings_est, tombstone_tier, n_batched, n_fallback}, the shared
        scan's legs / tail_terms, plus a local scan's row_groups / blocks /
        skipped.
        """
        batched: list[tuple[str, tuple]] = []
        fallback: list[str] = []
        for name, node in queries.items():
            spec = self._query_spec(normalize(node))
            if spec is None or spec[4] is not None:
                fallback.append(name)
            else:
                batched.append((name, spec))
        cols = {"query": np.empty(0, dtype=object), "gdoc": np.empty(0, np.int64), "score": np.empty(0)}
        parts: list[DataFrame] = []
        est, tally = None, {}
        if batched:
            qnames = np.array([name for name, _ in batched], dtype=object)
            # kernel pooling only when the tombstone mask is inline (same
            # reasoning as topk — r6 review)
            plan = self._sums_plan(
                [spec for _, spec in batched],
                k=k if self._deleted_inline else None,
                mode=self.final_mode,
            )
            est, local = self._site(plan)
            if plan is not None:
                tally.update(legs=plan.n_legs, tail_terms=plan.n_tail)
            if local:
                qid, gd, sc = self._local_run(plan, tally)
                # rows by (query name, score desc, gdoc asc)
                name_rank = np.argsort(np.argsort(qnames, kind="stable"))
                order = np.argsort(name_rank[qid], kind="stable")
                cols = {"query": qnames[qid[order]], "gdoc": gd[order], "score": sc[order]}
            elif plan is not None:
                from pyspark.sql.window import Window

                w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("gdoc"))
                name_map = F.create_map(
                    *[F.lit(x) for qid, name in enumerate(qnames) for x in (qid, name)]
                )
                parts.append(
                    self._spark_hits(plan)
                    .withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= k)
                    .select(
                        name_map[F.col("qid")].alias("query"),
                        "gdoc",
                        F.col("score").cast(self._score_t).alias("score"),
                    )
                )
        for name in fallback:
            hits, _run = self._topk(queries[name], k, True)
            parts.append(hits.select(F.lit(name).alias("query"), "gdoc", "score"))
        self.last_run = {
            "path": "spark" if parts else "local",
            "postings_est": est,
            "tombstone_tier": self._tombstone_tier(),
            "n_batched": len(batched),
            "n_fallback": len(fallback),
            **tally,
        }
        _log.debug("topk_batch %s", self.last_run)
        if not parts:
            return self._local_frame(cols)
        if len(cols["gdoc"]):
            parts.append(self._local_frame(cols))
        out = parts.pop()
        for p in parts:
            out = out.unionByName(p)
        return out.orderBy("query", F.desc("score"), F.asc("gdoc"))


def _phrase_term_scorer(
    scorer: Scorer, field: FieldStats, idf: float, boost: float
) -> TermScorer:
    """Compiled scorer for phrase frequency with a precomputed summed idf."""
    from iresearch_spark.search.scorers import (
        BM25TermScorer,
        ConstTermScorer,
        TFIDF,
        TFIDFTermScorer,
    )

    F32 = np.float32
    if isinstance(scorer, PreciseBM25):
        if scorer.k == 0.0:
            return PreciseConstTermScorer(boost * idf)
        return PreciseBM25TermScorer(
            idf=boost * idf, k=scorer.k, b=scorer.b, avg_dl=field.avg_dl
        )
    if isinstance(scorer, PreciseTFIDF):
        return PreciseTFIDFTermScorer(idf=boost * idf, with_norms=scorer.with_norms)
    if isinstance(scorer, TFIDF):
        return TFIDFTermScorer(
            float(F32(boost) * F32(idf)), getattr(scorer, "with_norms", False)
        )
    # BM25 family (float32 factored form)
    c0 = F32(boost) * F32(scorer.k + 1) * F32(idf)
    if scorer.k == 0.0:
        return ConstTermScorer(float(c0))
    kb = F32(scorer.k) * F32(scorer.b)
    k1b = F32(scorer.k) * F32(1.0 - scorer.b)
    inv = kb / F32(field.avg_dl) if field.avg_dl else F32(0.0)
    return BM25TermScorer(float(c0), float(k1b), float(inv))
