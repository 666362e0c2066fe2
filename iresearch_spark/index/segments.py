"""Segment store: immutable segments + manifest generations (MVCC).

Reference semantics (SURVEY.md §1.4, §3.1): an index is a metadata
*generation* pointing at immutable segments; every commit publishes
`segments_<gen+1>` atomically and readers pin a generation
(core/index/index_meta.hpp:80-87, index_writer.cpp:2356-2420 two-phase
commit). Production target is Iceberg (snapshot = generation, atomic swap =
commit); this sandbox has no Iceberg jars, so the same contract is
implemented as parquet segment directories + JSON manifests + an atomically
renamed CURRENT pointer. The store API is the seam where an Iceberg catalog
would plug in.

Layout:
    root/
      CURRENT                      -> "manifest-<gen>.json" (atomic rename)
      manifest-<gen>.json          {gen, segments: [...], analyzer, ...}
      segments/<name>/postings/    parquet, term-sorted, row groups of
                                   about POSTINGS_ROW_GROUP_ROWS rows
      segments/<name>/doclen/      parquet (older builds only)
      segments/<name>/term_stats/  parquet
      segments/<name>/docmap/      parquet (doc_id, len = the doc's norm,
                                   source identity + sha256)
      segments/<name>/lineage/     parquet (per-partition lineage rows)

Each manifest segment entry: {name, docs_count, sum_len, base_doc, bytes}
where base_doc is the segment's global docID offset (contiguous base
assignment exactly like merge_writer's doc_id_map base offsets,
core/index/merge_writer.cpp:1527-1571).

build_segment (the flush) runs at one of two sites with the same kernels
and the same tables: a small input of known size (`input_bytes` at most
LOCAL_BUILD_MAX_BYTES) is built on the driver from one collect and
written with pyarrow; anything larger or of unknown size runs as Spark
jobs. The other writes follow the same rule: `IndexStore.remove` merges
up to MAX_INLINE_TOMBSTONES tombstones on the driver, and
`merge.merge_segments` merges members whose footers hold at most
LOCAL_BUILD_MAX_BYTES on the driver.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iresearch_spark.analysis.analyzers import Analyzer, TextAnalyzer
from iresearch_spark.functions.hashing import xxhash64_bytes
from iresearch_spark.index.build import (
    DEFAULT_CHUNK_BITS,
    _PARTIAL_SCHEMA,
    _make_doc_packer,
    _make_partial_merger,
    _make_token_array_packer,
    assign_doc_ids,
    decode_doclen,
    doclen_from_partials,
    merge_partials,
    null_key_error,
    pack_docs_combined,
    packed_schema,
    term_stats_from_packed,
    text_py_spec,
)
# perfbench's traced runs time this module's attribute of that name
from iresearch_spark.index.build import tokenize_stream  # noqa: F401
from iresearch_spark.index.codec import BLOCK_SIZE

TABLES = ("postings", "doclen", "term_stats", "docmap", "lineage")

_log = logging.getLogger(__name__)


@dataclass
class SegmentMeta:
    name: str
    docs_count: int  # docs WITH the indexed field (len > 0): stats/idf/avgdl
    sum_len: int
    base_doc: int = 0
    bytes: int = 0
    created_at: float = 0.0
    # Total assigned docID range (input row count incl. zero-token docs).
    # base_doc spacing and merge remapping MUST use this, not docs_count:
    # ids are dense over ALL input rows, so spacing by docs_count would
    # overlap gdoc ranges whenever a doc emits no tokens (empty file,
    # all-stopword content). Reference parity: merge bases are spaced by
    # total segment doc count (core/index/merge_writer.cpp:1527-1571).
    docs_total: int = 0
    # Actual docmap id range [min_doc, max_doc] (r4): base_doc spacing uses
    # the range WIDTH so caller-supplied non-dense / 0-based ids can never
    # produce overlapping gdoc ranges across segments. max_doc = -1 marks
    # a legacy manifest entry (falls back to dense-1-based doc_span
    # spacing, the pre-r4 behavior).
    min_doc: int = 0
    max_doc: int = -1
    # Largest doc length in the segment (r5): lets the engine auto-select
    # the reference's 256-entry tiny-norm BM25 cache exactly when norms
    # fit one byte (bm25.cpp:348-353 picks kNorm2Tiny whenever dl <= 255).
    # -1 marks a legacy manifest entry (unknown -> auto-select disabled).
    max_dl: int = -1

    @property
    def doc_span(self) -> int:
        return self.docs_total or self.docs_count

    def to_dict(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_dict(d: dict) -> "SegmentMeta":
        return SegmentMeta(**d)


@dataclass
class Manifest:
    gen: int
    segments: list[SegmentMeta] = field(default_factory=list)
    analyzer: str = "text"
    # generation of the live-delete (tombstone) table under root/deletes/,
    # or None when nothing is deleted. Reference: queued removals become a
    # per-segment document mask applied at query time and physically
    # dropped at merge (core/index/index_writer.hpp:381-416).
    deletes_gen: int | None = None

    @property
    def docs_count(self) -> int:
        return sum(s.docs_count for s in self.segments)

    @property
    def sum_len(self) -> int:
        return sum(s.sum_len for s in self.segments)

    @property
    def avg_dl(self) -> float:
        n = self.docs_count
        return (self.sum_len / n) if n else 0.0

    @property
    def max_dl(self) -> int:
        """Largest doc length across segments; -1 when any segment predates
        the field (auto tiny-norm selection then stays off)."""
        if not self.segments or any(s.max_dl < 0 for s in self.segments):
            return -1
        return max(s.max_dl for s in self.segments)


class IndexStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _manifest_path(self, gen: int) -> str:
        return os.path.join(self.root, f"manifest-{gen}.json")

    def current(self) -> Manifest:
        cur = os.path.join(self.root, "CURRENT")
        if not os.path.exists(cur):
            return Manifest(gen=0)
        with open(cur) as f:
            name = f.read().strip()
        with open(os.path.join(self.root, name)) as f:
            d = json.load(f)
        return Manifest(
            gen=d["gen"],
            segments=[SegmentMeta.from_dict(s) for s in d["segments"]],
            analyzer=d.get("analyzer", "text"),
            deletes_gen=d.get("deletes_gen"),
        )

    def commit(self, manifest: Manifest) -> None:
        """Two-phase: write manifest-<gen>, then atomically swing CURRENT
        (reference index_writer Begin/Finish, index_writer.hpp:536-560)."""
        # contiguous base_doc assignment in segment order; global doc =
        # base_doc + segment-local id. Spacing uses each segment's actual
        # id-range WIDTH (min_doc/max_doc) so non-dense or 0-based caller
        # ids stay collision-free; the first segment keeps its ids
        # verbatim. Legacy entries (max_doc sentinel) fall back to the
        # dense-1-based doc_span spacing they were committed under.
        acc: int | None = None
        for s in manifest.segments:
            known = s.max_doc >= s.min_doc and s.max_doc >= 0
            lo = s.min_doc if known else 1
            width = (s.max_doc - s.min_doc + 1) if known else s.doc_span
            if acc is None:
                acc = lo
            s.base_doc = acc - lo
            acc += width
        path = self._manifest_path(manifest.gen)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "gen": manifest.gen,
                    "analyzer": manifest.analyzer,
                    "deletes_gen": manifest.deletes_gen,
                    "segments": [s.to_dict() for s in manifest.segments],
                },
                f,
                indent=1,
            )
        os.replace(tmp, path)
        cur_tmp = os.path.join(self.root, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(os.path.basename(path))
        os.replace(cur_tmp, os.path.join(self.root, "CURRENT"))

    # -- segment IO ---------------------------------------------------------

    def seg_path(self, seg: str, table: str) -> str:
        return os.path.join(self.root, "segments", seg, table)

    @staticmethod
    def read_parquet(spark: SparkSession, path: str) -> DataFrame:
        """spark.read.parquet with the schema Spark wrote into the first
        file's footer: Spark's own schema inference runs one job per read
        (an engine open reads four tables), the footer read is local."""
        schema = _footer_schema(path)
        if schema is None:
            return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    def read(self, spark: SparkSession, seg: str, table: str) -> DataFrame:
        # doclen is a projection of docmap (which carries `len`) — one less
        # table to write per segment; docs with no emitted tokens are
        # excluded (docs_with_field semantics). Falls back to a physical
        # doclen directory for segments written by older builds.
        if table == "doclen" and not os.path.exists(self.seg_path(seg, "doclen")):
            return (
                self.read_parquet(spark, self.seg_path(seg, "docmap"))
                .select("doc_id", "len")
                .where(F.col("len") > 0)
            )
        return self.read_parquet(spark, self.seg_path(seg, table))

    def table_columns(self, spark: SparkSession, seg: str, table: str) -> list[str]:
        """Column names of a committed segment table from the parquet
        footer (pyarrow) — a schema probe without a spark.read per call
        (merge reads K of these just to detect stream mixes; the Spark
        path pays file-listing + schema-inference per segment)."""
        files = _parquet_files(self.seg_path(seg, table))
        if files:
            import pyarrow.parquet as pq

            return list(pq.read_schema(files[0]).names)
        return self.read(spark, seg, table).columns

    def read_union(self, spark: SparkSession, table: str, segments=None) -> DataFrame:
        """Union of a table across segments (default: the current
        manifest's) with a `segment` column."""
        segs = segments if segments is not None else [s.name for s in self.current().segments]
        if not segs:
            raise ValueError(f"no segments to read '{table}' from: the index snapshot is empty")
        dfs = [
            self.read(spark, s, table).withColumn("segment", F.lit(s)) for s in segs
        ]
        out = dfs[0]
        for d in dfs[1:]:
            # allowMissingColumns: a store can mix with_offsets and plain
            # segments (scoring never reads off_bin; absent ones read null)
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # -- live deletes (tombstones) -------------------------------------------

    def deletes_path(self, gen: int) -> str:
        return os.path.join(self.root, "deletes", f"gen-{gen}")

    def read_deletes(self, spark: SparkSession):
        """Current tombstone table (segment, doc_id) or None."""
        m = self.current()
        if m.deletes_gen is None:
            return None
        return self.read_parquet(spark, self.deletes_path(m.deletes_gen))

    def deletes_table(self, manifest: Manifest | None = None, max_rows: int | None = None):
        """(table, rows): the tombstones of `manifest` (default: the
        current one) as a pyarrow (segment, doc_id) table, and their row
        count from the parquet footers. Launches no Spark job. The table
        is None when nothing is deleted, or when `rows` exceeds `max_rows`
        (then only the footers are read)."""
        import pyarrow.dataset as pads

        m = manifest if manifest is not None else self.current()
        if m.deletes_gen is None:
            return None, 0
        ds = pads.dataset(self.deletes_path(m.deletes_gen), format="parquet")
        n = ds.count_rows()
        if max_rows is not None and n > max_rows:
            return None, n
        return ds.to_table(columns=["segment", "doc_id"]), n

    def remove(self, spark: SparkSession, condemned: DataFrame) -> Manifest:
        """Queue live deletes: `condemned` = (segment, doc_id) rows. Merged
        with any existing tombstones and committed as a new generation —
        the query-time mask analogue of IndexWriter::Remove(filter)
        (core/index/index_writer.hpp:381-416). Deleted docs stay in the
        stats (idf/avgdl) until a merge physically drops them, matching
        the reference's mask-until-consolidation semantics. Only rows that
        name a doc of a live segment are kept (`live_tombstones`).

        Two sites, the same table. When the existing tombstones' footer
        row count and the condemned rows (one capped collect, the only
        Spark job) are each within the engine's inline tier
        (MAX_INLINE_TOMBSTONES), the rows are merged on the driver
        (deduplicated in numpy) and written with pyarrow — the
        reference's in-process doc mask. Otherwise the Spark plan
        (union, distinct, one-file write) runs. A frame made from a
        Python list has no size Spark knows, so the rule is a capped read,
        not `input_bytes`. The site, the row counts and the cap go to one
        DEBUG log line."""
        from iresearch_spark.search.executor import MAX_INLINE_TOMBSTONES as cap

        m = self.current()
        old, n_old = self.deletes_table(m, max_rows=cap)
        new = _arrow_capped(condemned.select("segment", "doc_id"), cap) if n_old <= cap else None
        if _log.isEnabledFor(logging.DEBUG):
            _log.debug(
                "remove gen %s: site=%s rows=%s existing=%s cap=%s",
                m.gen + 1, "spark" if new is None else "local",
                None if new is None else new.num_rows, n_old, cap,
            )
        m.gen += 1
        path = self.deletes_path(m.gen)
        if new is not None:
            import pyarrow as pa
            from pyspark.sql.pandas.types import from_arrow_schema

            tbl = new if old is None else pa.concat_tables([new, old], promote_options="permissive")
            tbl = live_tombstones(m.segments, tbl)[0]
            codes, names = pd.factorize(tbl["segment"].to_numpy(zero_copy_only=False))
            keys = np.unique(np.stack([codes, tbl["doc_id"].to_numpy()]), axis=1)
            out = pa.table({"segment": pa.array(names[keys[0]], pa.string()), "doc_id": keys[1]})
            _write_table(path, out, from_arrow_schema(tbl.schema))
        else:
            dels = condemned.select("segment", "doc_id")
            existing = self.read_deletes(spark)
            if existing is not None:
                dels = dels.unionByName(existing.select("segment", "doc_id"))
            dels.where(_live_tombstone_col(m.segments)).distinct().coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
        m.deletes_gen = m.gen
        self.commit(m)
        return m

    def rewrite_deletes_after_merge(
        self, spark: SparkSession, manifest: Manifest, merged_away: list[str]
    ) -> None:
        """Drop tombstones belonging to segments that a merge just removed
        (the merge applied them physically). Mutates `manifest` in place —
        call AFTER bumping manifest.gen, BEFORE commit(). Up to
        MAX_INLINE_TOMBSTONES tombstones are filtered and written with
        pyarrow (no Spark job); a larger table is filtered by Spark."""
        from iresearch_spark.search.executor import MAX_INLINE_TOMBSTONES as cap

        if manifest.deletes_gen is None:
            return
        path = self.deletes_path(manifest.gen)
        tbl, _ = self.deletes_table(manifest, max_rows=cap)
        if tbl is not None:
            import pyarrow as pa
            import pyarrow.compute as pc
            from pyspark.sql.pandas.types import from_arrow_schema

            gone = pc.is_in(tbl["segment"], value_set=pa.array(merged_away, pa.string()))
            remaining = tbl.filter(pc.invert(gone))
            keep = remaining.num_rows > 0
            if keep:
                _write_table(path, remaining, from_arrow_schema(tbl.schema))
        else:
            existing = self.read_parquet(spark, self.deletes_path(manifest.deletes_gen))
            remaining = existing.where(~F.col("segment").isin(merged_away))
            keep = remaining.limit(1).count() > 0
            if keep:
                remaining.coalesce(1).write.mode("overwrite").parquet(path)
        manifest.deletes_gen = manifest.gen if keep else None

    def dir_bytes(self, seg: str) -> int:
        total = 0
        base = os.path.join(self.root, "segments", seg)
        for dirpath, _dirs, files in os.walk(base):
            total += sum(os.path.getsize(os.path.join(dirpath, fn)) for fn in files)
        return total


def _parquet_files(path: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema written into the footer of the first parquet file
    under `path`, or None."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    meta = (pq.read_schema(files[0]).metadata or {}) if files else {}
    js = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if js is None else StructType.fromJson(json.loads(js))


def _uncompressed_bytes(files) -> int:
    """Uncompressed row-group bytes in the footers of parquet `files`."""
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        md = pq.read_metadata(f)
        total += sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
    return total


def _arrow_capped(df: DataFrame, cap: int):
    """`df` as a pyarrow table from one collect of at most `cap` + 1 rows,
    or None when it holds more than `cap` rows."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def _doc_ranges(segments: list[SegmentMeta]) -> dict[str, tuple[int, int, int]]:
    """segment -> (lo, hi, base_doc): the doc ids [lo, hi] a tombstone of
    it may name. A legacy entry with no recorded range (and some docs)
    admits every id; an empty segment admits none."""
    i64 = np.iinfo(np.int64)
    out = {}
    for s in segments:
        known = s.max_doc >= s.min_doc and s.max_doc >= 0
        lo, hi = (s.min_doc, s.max_doc) if known or not s.doc_span else (i64.min, i64.max)
        out[s.name] = (lo, hi, s.base_doc)
    return out


def live_tombstones(segments: list[SegmentMeta], tbl):
    """(rows, gdocs): the rows of a pyarrow (segment, doc_id) tombstone
    table that name a doc of one of `segments`, and their global doc ids
    (base_doc + doc_id). A doc id outside its segment's [min_doc, max_doc]
    names no doc of it — read as a gdoc it would delete a doc of the next
    segment — so it is dropped, as are rows of other segments and rows
    with a NULL. `_live_tombstone_col` is the same filter for Spark."""
    import pyarrow as pa

    tbl = tbl.select(["segment", "doc_id"]).drop_null()
    codes, names = pd.factorize(tbl["segment"].to_numpy(zero_copy_only=False))
    rng = _doc_ranges(segments)
    lo, hi, base = np.array([rng.get(n, (1, 0, 0)) for n in names], dtype=np.int64).reshape(-1, 3)[codes].T
    doc = tbl["doc_id"].to_numpy().astype(np.int64)
    keep = (doc >= lo) & (doc <= hi)
    return tbl.filter(pa.array(keep)), (doc + base)[keep]


def _live_tombstone_col(segments: list[SegmentMeta]):
    """`live_tombstones`' row filter as a Spark column over (segment,
    doc_id)."""
    if not segments:
        return F.lit(False)
    rng = _doc_ranges(segments)
    lo, hi = (F.create_map(*[F.lit(x) for k, r in rng.items() for x in (k, r[i])]) for i in (0, 1))
    seg = F.col("segment")
    return F.col("doc_id").between(lo[seg], hi[seg])


# ---------------------------------------------------------------------------
# Segment build (the "flush" job)
# ---------------------------------------------------------------------------

LINEAGE_PARTS = 64  # logical lineage partitioning (stable, not physical)
LINEAGE_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("part", "doc_count", "bytes", "input_hash")]
)

# Rows per postings row group. Every writer cuts the term-sorted postings
# into groups this size, so a query reads only the groups whose footer
# term range holds one of its terms; the pyarrow writers cut at a term
# boundary when one fits. From a 1500-doc point-query sweep on 4 cores:
# 2,048-row groups cut the driver CPU per query by a quarter for +5% bytes,
# 1,024 gained little more for +10%, and 256 was slower.
POSTINGS_ROW_GROUP_ROWS = 2048

# Largest input (`input_bytes`, bytes) that build_segment builds on the
# driver instead of through Spark jobs. From `scripts/local_budget_sweep.py
# --build` on a 4-core VM (local[4]), for cached and parquet inputs: the
# local site's wall time is 5-8x lower at 1.3 MB, about 2x at 10-11 MB,
# even near 21 MB and higher at 42 MB; 8 MiB keeps it clearly ahead.
LOCAL_BUILD_MAX_BYTES = 8 << 20


def _lineage_key(key_cols: list[str]):
    return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])


def _lineage(docs: DataFrame, key_cols: list[str], text_col: str = "content") -> DataFrame:
    """Per-logical-partition lineage rows: (part, doc_count, bytes,
    input_hash). part = hash(key) mod LINEAGE_PARTS is *logical* so it is
    stable across cluster sizes; input_hash is an order-free XOR of row
    hashes — recomputable for resume verification (north rule: per-partition
    lineage with sha256-of-inputs)."""
    key = _lineage_key(key_cols)
    part = F.pmod(F.xxhash64(key), F.lit(LINEAGE_PARTS))
    row_hash = F.xxhash64(key, F.col("content_sha256")) if "content_sha256" in docs.columns else F.xxhash64(key)
    sz = F.sum(F.length(text_col)).alias("bytes")
    return (
        docs.withColumn("_part", part)
        .withColumn("_rh", row_hash)
        .groupBy(F.col("_part").alias("part"))
        .agg(
            F.count("*").alias("doc_count"),
            sz,
            F.expr("bit_xor(_rh)").alias("input_hash"),  # order-free deterministic
        )
    )


def _sized_for_write(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Right-size small-table writes (docmap, lineage): a 50k-row docmap
    written through 32 shuffle partitions produced 32 near-empty files,
    and K-segment merges then paid 32*K-file listings+scan tasks on every
    docmap read (guide §6 small-files). When the row count is known,
    coalesce toward IR_DOCMAP_ROWS_PER_FILE rows/file (default 4M ~
    a few hundred MB); unknown counts keep the planner's layout."""
    import os as _os

    if n_rows is None:
        return df
    per_file = int(_os.environ.get("IR_DOCMAP_ROWS_PER_FILE", "4000000"))
    # repartition, NOT coalesce: coalesce(1) would collapse the whole
    # upstream (join/union + projection) into one task; the round-robin
    # exchange of these small rows is cheap and keeps the compute parallel
    return df.repartition(max(1, -(-n_rows // per_file)))


def plan_bytes(df: DataFrame) -> int:
    """Spark's size estimate for `df`: the optimized plan's
    stats().sizeInBytes, the statistic behind broadcast decisions. Reading
    it launches no job; with no estimate (e.g. an RDD-backed frame) it is
    spark.sql.defaultSizeInBytes (Long.MaxValue)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def input_bytes(df: DataFrame, limit: int) -> int | None:
    """Bytes of input behind `df`, summed over its optimized plan's leaves
    from figures that track real sizes, or None when a leaf has none.
    Launches no job.

    - A cached relation whose batches are built: their in-memory size.
    - A parquet relation on the local filesystem: the uncompressed
      row-group sizes in its files' footers (Spark's estimate is the
      compressed bytes on disk, 2-3x fewer). Footers are read only while
      the running total plus the bytes on disk stays within `limit`;
      past it that sum is returned, since it already exceeds `limit`.
    - An empty local relation: 0.

    Anything else gives None: an uncached generated frame (Spark's
    estimate counts about 20 bytes per string), an RDD-backed frame, a
    cache not built yet, other formats and filesystems. Filters, limits
    and partition pruning above a leaf are not credited, so the figure
    bounds the input from above."""
    from urllib.parse import unquote, urlparse

    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            # not leaf.stats(): a plan optimized before the cache was built
            # keeps the estimate of the uncached plan
            cache = leaf.cacheBuilder()
            if not cache.isCachedColumnBuffersLoaded():
                return None
            total += int(cache.sizeInBytesStats().value())
        elif kind == "LocalRelation" and leaf.data().isEmpty():
            continue
        elif kind == "LogicalRelation" and _is_parquet(leaf.relation()):
            rel = leaf.relation()
            if total + int(rel.sizeInBytes()) > limit:
                return total + int(rel.sizeInBytes())
            urls = [urlparse(f) for f in rel.location().inputFiles()]
            if any(u.scheme != "file" for u in urls):
                return None
            total += _uncompressed_bytes(unquote(u.path) for u in urls)
        else:
            return None
    return total


def _is_parquet(rel) -> bool:
    return rel.getClass().getSimpleName() == "HadoopFsRelation" and (
        rel.fileFormat().getClass().getSimpleName() == "ParquetFileFormat"
    )


def _ident_cols(docs: DataFrame) -> list[str]:
    """Source-identity columns of `docs` that the docmap carries."""
    return [c for c in docs.columns if c in ("repo", "path", "commit", "lang", "content_sha256", "source")]


def build_segment(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame,
    seg_name: str,
    text_col: str = "content",
    key_cols: list[str] | None = None,
    doc_id_col: str | None = None,
    analyzer: Analyzer | None = None,
    with_positions: bool = True,
    with_offsets: bool = False,
    payload_fn=None,
    commit: bool = True,
) -> SegmentMeta:
    """Build one immutable segment from a document slice and (optionally)
    commit it into the manifest. Idempotent per seg_name: rebuilding
    overwrites the same segment directory before the manifest swap, so a
    crash mid-build never corrupts the committed generation (resume =
    re-run; the committed CURRENT still points at the old manifest).
    with_offsets stores the per-occurrence (char start, length)
    highlighting stream; payload_fn stores caller-supplied per-occurrence
    payload bytes (the generic half of the reference .pay stream,
    formats_10.cpp:166-267) — a batch-vectorized callable
    (tokens, starts, lens) -> sequence of bytes. Both need a
    `text_py_spec` analyzer (span-aware tokenization).

    One packer for every build: the doc packer's text front for
    `text_py_spec` analyzers, its token-array front for Catalyst analyzers,
    then `_make_partial_merger`. Two sites, the same kernels and the same
    tables. When the analyzer has a `text_py_spec` and `input_bytes(docs)`
    (a materialized cache's size, or parquet footers' uncompressed size;
    read without a job) is at most LOCAL_BUILD_MAX_BYTES, the segment is
    built on the driver (`_build_local`): one `toArrow()` collect is the
    only Spark job, and the tables are written with pyarrow — the
    reference's in-process flush (PAPER.md §0). Everything else (larger
    inputs, inputs with no such size such as uncached generated or
    RDD-backed frames, Catalyst-only analyzers) runs the Spark plan
    (`_build_spark`). The site, `input_bytes` and Spark's plan estimate
    go to one DEBUG log line."""
    analyzer = analyzer or TextAnalyzer()
    key_cols = key_cols or ["repo", "path", "commit"]
    spec = text_py_spec(analyzer)
    # the local lineage hashes content_sha256 as a string (as sha2 writes it)
    sha_ok = "content_sha256" not in docs.columns or isinstance(
        docs.schema["content_sha256"].dataType, StringType
    )
    size = input_bytes(docs, LOCAL_BUILD_MAX_BYTES) if spec is not None and sha_ok else None
    local = size is not None and size <= LOCAL_BUILD_MAX_BYTES
    if _log.isEnabledFor(logging.DEBUG):
        _log.debug(
            "build_segment %s: site=%s input_bytes=%s plan_bytes=%s",
            seg_name, "local" if local else "spark", size, plan_bytes(docs),
        )
    if local:
        agg = _build_local(
            spark, store, docs, seg_name, text_col, key_cols, doc_id_col, spec,
            with_positions, with_offsets, payload_fn,
        )
    else:
        agg = _build_spark(
            spark, store, docs, seg_name, text_col, key_cols, doc_id_col, analyzer,
            with_positions, with_offsets, payload_fn,
        )
    return _commit_segment(store, seg_name, agg, analyzer.name, commit)


def _commit_segment(store, seg_name, agg: dict, analyzer_name: str, commit: bool) -> SegmentMeta:
    """The built segment's SegmentMeta from its docmap aggregates,
    committed into the manifest when `commit`."""
    meta = _segment_meta(store, seg_name, agg)
    if commit:
        m = store.current()
        m.segments = [s for s in m.segments if s.name != seg_name] + [meta]
        m.gen += 1
        m.analyzer = analyzer_name
        store.commit(m)
    return meta


def _segment_meta(store, seg_name: str, agg: dict) -> SegmentMeta:
    """A written segment's SegmentMeta from its docmap aggregates."""
    return SegmentMeta(
        name=seg_name,
        docs_count=agg["n"],
        sum_len=agg["s"],
        bytes=store.dir_bytes(seg_name),
        created_at=time.time(),
        docs_total=agg["total"],
        min_doc=agg["lo"],
        max_doc=agg["hi"],
        max_dl=agg["mx"],
    )


def _docmap_aggs(docmap: DataFrame) -> dict:
    """SegmentMeta's counts over a docmap (docs_count/sum_len over len > 0)."""
    agg = docmap.agg(
        F.count("*").alias("total"),
        F.count(F.when(F.col("len") > 0, 1)).alias("n"),
        F.coalesce(F.sum("len"), F.lit(0)).alias("s"),
        F.coalesce(F.min("doc_id"), F.lit(0)).alias("lo"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).alias("hi"),
        F.coalesce(F.max("len"), F.lit(0)).alias("mx"),
    ).collect()[0]
    return {k: int(agg[k]) for k in ("total", "n", "s", "lo", "hi", "mx")}


def _local_aggs(ids: np.ndarray, lens: np.ndarray) -> dict:
    """`_docmap_aggs` of a docmap's doc ids and (non-negative) lengths."""
    n = ids.size
    return {
        "total": n,
        "n": int((lens > 0).sum()),
        "s": int(lens.sum()),
        "lo": int(ids.min()) if n else 0,
        "hi": int(ids.max()) if n else -1,
        "mx": int(lens.max()) if n else 0,
    }


def _write_term_stats(spark, store, seg_name, n_part) -> None:
    """term_stats from the written postings' block metadata."""
    term_stats_from_packed(spark.read.parquet(store.seg_path(seg_name, "postings"))).repartition(
        max(1, n_part // 4), "term"
    ).sortWithinPartitions("term").write.mode("overwrite").parquet(
        store.seg_path(seg_name, "term_stats")
    )


def _build_spark(
    spark, store, docs, seg_name, text_col, key_cols, doc_id_col, analyzer,
    with_positions, with_offsets, payload_fn,
) -> dict:
    """build_segment's Spark site; returns the docmap aggregates."""
    inner_cache = None
    n_docs_known: int | None = None
    if doc_id_col is None:
        docs = assign_doc_ids(docs, key_cols, out_col="doc_id", start=1)
        inner_cache = getattr(docs, "_ir_cached_input", None)
        n_docs_known = getattr(docs, "_ir_n_docs", None)
        doc_id_col = "doc_id"
    elif doc_id_col != "doc_id":
        docs = docs.withColumnRenamed(doc_id_col, "doc_id")
    docs = docs.persist()

    # One packer for every build (the combiner, r3): map-side tokenize +
    # local invert + varint-pack partials per input slice, shuffle ONLY
    # packed bytes (~4-6 B/token vs ~30 B/token for struct rows, ~25x fewer
    # rows), then a sorted-stream merge kernel re-blocks at 128 docs.
    # `text_py_spec` analyzers tokenize in the packer; the rest hand it
    # their Catalyst token arrays. Partials also carry the per-doc lengths,
    # so docmap never re-tokenizes the corpus.
    n_part = spark.sparkContext.defaultParallelism
    packed, partials = pack_docs_combined(
        docs, analyzer, text_col,
        with_positions=with_positions, with_offsets=with_offsets,
        payload_fn=payload_fn,
        num_partitions=n_part,
    )
    partials = partials.persist()
    write_postings(packed, store.seg_path(seg_name, "postings"))
    if inner_cache is not None:
        # the write above materialized the docs cache; assign_doc_ids'
        # intermediate range-partition cache is no longer needed
        inner_cache.unpersist()

    # docmap carries the doc length (`len`) so no separate doclen table is
    # written — IndexStore.read(seg, "doclen") projects it back out. The
    # lengths come from the cached partials' doclen side-channel rows (zero
    # extra tokenize passes).
    ident_cols = _ident_cols(docs)
    dl_df = doclen_from_partials(partials)
    # the doclen side is (doc_id, len) — 16 B/doc; when the doc count
    # is known (assign_doc_ids collected it anyway) and small enough,
    # broadcast it so the docmap write shuffles NOTHING (guide §3.1 —
    # without stats Spark picked a two-sided shuffle join here).
    # Cluster scale keeps the shuffle join: cap parameterized via env.
    bcast_max = int(os.environ.get("IR_DL_BCAST_MAX", "2000000"))
    if n_docs_known is not None and n_docs_known <= bcast_max:
        dl_df = F.broadcast(dl_df)
    dm = docs.select("doc_id", *ident_cols).join(dl_df, "doc_id").select(
        "doc_id", "len", *ident_cols
    )

    def _write_docmap():
        _sized_for_write(dm, n_docs_known).write.mode("overwrite").parquet(
            store.seg_path(seg_name, "docmap")
        )

    def _write_lineage():
        _lineage(
            docs,
            key_cols if all(c in docs.columns for c in key_cols) else ["doc_id"],
            text_col,
        ).coalesce(1).write.mode("overwrite").parquet(store.seg_path(seg_name, "lineage"))

    # the three side tables are independent (postings are on disk, docs +
    # partials are cached): submit them from driver threads so each job's
    # task tail back-fills the others' idle cores (guide §2.6) instead of
    # paying three sequential job latencies
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(f)
            for f in (
                lambda: _write_term_stats(spark, store, seg_name, n_part),
                _write_docmap,
                _write_lineage,
            )
        ]
        for fu in futs:
            fu.result()
    partials.unpersist()

    agg = _docmap_aggs(store.read(spark, seg_name, "docmap"))
    docs.unpersist()
    return agg


def write_postings(packed: DataFrame, path: str) -> None:
    """Spark write of a postings table whose partitions run in term order:
    parquet-mr closes a row group every POSTINGS_ROW_GROUP_ROWS rows, so
    each file's groups hold narrow, ordered term ranges."""
    packed.write.mode("overwrite").option(
        "parquet.block.row.count.limit", POSTINGS_ROW_GROUP_ROWS
    ).parquet(path)


def _term_group_stops(terms, size: int) -> list[int]:
    """Row-group ends for a term-sorted pyarrow column: groups of at most
    `size` rows, each ending at the last term boundary that fits, or after
    `size` rows inside a term longer than that."""
    import pyarrow.compute as pc

    n = len(terms)
    b = np.flatnonzero(pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(zero_copy_only=False)) + 1
    stops, s = [], 0
    while n - s > size:
        i = np.searchsorted(b, s + size, side="right") - 1
        s = int(b[i]) if i >= 0 and b[i] > s else s + size
        stops.append(s)
    return stops + [n]


def _write_table(path: str, tbl, schema: StructType, term_groups: bool = False) -> None:
    """Write a segment table as one parquet file the way a Spark overwrite
    leaves it readable: the directory cleared first, zstd at level 3
    (parquet-mr's level for the session codec), no dictionary pages, and
    the Spark schema in the footer, so IndexStore.read_parquet takes its
    no-inference path. One row group, or with `term_groups` (postings,
    rows in term order) groups of at most POSTINGS_ROW_GROUP_ROWS rows cut
    at term boundaries (`_term_group_stops`), which footers can prune."""
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    # Spark writes every column nullable
    schema = StructType([StructField(f.name, f.dataType, True, f.metadata) for f in schema])
    arrow = to_arrow_schema(schema)
    tbl = tbl.select(arrow.names).cast(arrow).replace_schema_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
    )
    stops = _term_group_stops(tbl["term"], POSTINGS_ROW_GROUP_ROWS) if term_groups and tbl.num_rows else []
    opts = {"compression": "zstd", "compression_level": 3, "use_dictionary": False}
    with pq.ParquetWriter(os.path.join(path, "part-00000.zstd.parquet"), tbl.schema, **opts) as w:
        if not stops:
            w.write_table(tbl)
        for s, e in zip([0, *stops], stops):
            w.write_table(tbl.slice(s, e - s))


def _lineage_rows(part, doc_count, nbytes, has_bytes, input_hash):
    """`_lineage`'s aggregate over rows given as numpy arrays: doc_count
    and bytes summed and input_hash XORed per part; bytes is NULL for a
    part with no non-NULL bytes, as Spark's sum."""
    import pyarrow as pa

    if not part.size:
        return pa.table({c: pa.array([], pa.int64()) for c in ("part", "doc_count", "bytes", "input_hash")})
    order = np.argsort(part, kind="stable")
    p = part[order]
    starts = np.flatnonzero(np.r_[True, p[1:] != p[:-1]])
    return pa.table(
        {
            "part": p[starts],
            "doc_count": np.add.reduceat(doc_count[order], starts),
            "bytes": pa.array(
                np.add.reduceat(nbytes[order], starts),
                mask=~np.logical_or.reduceat(has_bytes[order], starts),
            ),
            "input_hash": np.bitwise_xor.reduceat(input_hash[order], starts),
        }
    )


def _local_lineage(tbl, text_col: str):
    """`_lineage`'s rows from the collected input (`_lkey` = the lineage
    key string Spark built in the collect): the same xxhash64 values,
    computed with functions/hashing.py."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    if not n:
        return _lineage_rows(*[np.zeros(0, dtype=np.int64)] * 5)
    key_hash = xxhash64_bytes(tbl["_lkey"].to_pylist())
    row_hash = key_hash
    if "content_sha256" in tbl.column_names:
        # xxhash64(key, sha) chains the key hash in as the sha's seed; a
        # NULL sha leaves the row hash at the key hash, as in Spark
        sha = tbl["content_sha256"]
        ok = np.flatnonzero(pc.is_valid(sha).to_numpy(zero_copy_only=False))
        row_hash = key_hash.copy()
        row_hash[ok] = xxhash64_bytes(pc.take(sha, ok).to_pylist(), key_hash[ok])
    text = tbl[text_col]
    chars = pc.utf8_length(text).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    has_text = pc.is_valid(text).to_numpy(zero_copy_only=False)
    part = np.mod(key_hash, LINEAGE_PARTS)
    return _lineage_rows(part, np.ones(n, dtype=np.int64), chars, has_text, row_hash)


def _local_postings(partials: pd.DataFrame | None, with_positions, with_offsets, with_payloads):
    """(table, schema): the postings `_make_partial_merger` makes of
    combiner `partials` on one in-process partition, sorted by (term,
    _chunk, first_doc) first. The table runs in (term, block_id) order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = packed_schema(with_positions, with_offsets, with_payloads)
    blocks = []
    if partials is not None and len(partials):
        post = partials.sort_values(["term", "_chunk", "first_doc"], kind="mergesort", ignore_index=True)
        merger = _make_partial_merger(
            BLOCK_SIZE, DEFAULT_CHUNK_BITS, with_positions, with_offsets, with_payloads
        )
        blocks = list(merger(iter([post])))
    if not blocks:
        return to_arrow_schema(schema).empty_table(), schema
    return pa.Table.from_pandas(pd.concat(blocks, ignore_index=True), preserve_index=False), schema


def _local_term_stats(postings):
    """(table, schema): term_stats of a postings table, in term order."""
    import pyarrow as pa

    ts = postings.group_by("term").aggregate([("doc_count", "sum"), ("sum_tf", "sum")]).sort_by("term")
    return (
        pa.table([ts["term"], ts["doc_count_sum"], ts["sum_tf_sum"]], ["term", "doc_freq", "total_tf"]),
        StructType([StructField("term", StringType()), *[StructField(c, LongType()) for c in ("doc_freq", "total_tf")]]),
    )


def _build_local(
    spark, store, docs, seg_name, text_col, key_cols, doc_id_col, spec,
    with_positions, with_offsets, payload_fn,
) -> dict:
    """build_segment's driver-local site: the Spark site's steps on one
    in-process partition, with one Spark job (the input collect).

    Doc ids as `assign_doc_ids` gives them (a stable sort on key_cols,
    ids from 1); the unchanged doc packer over slices of
    `arrow.maxRecordsPerBatch` rows (the batches the Spark site's kernel
    sees); the unchanged partial merger over all partials sorted by
    (term, _chunk, first_doc). term_stats, docmap (len decoded from the
    packer's doclen rows), lineage (the `_lineage` hashes, in numpy) and
    the docmap aggregates follow in pyarrow/numpy."""
    import pyarrow as pa
    import pyarrow.compute as pc

    assign = doc_id_col is None
    if not assign and doc_id_col != "doc_id":
        docs = docs.withColumnRenamed(doc_id_col, "doc_id")
    lkey = key_cols if all(c in docs.columns for c in key_cols) else ["doc_id"]
    ident = _ident_cols(docs)
    cols = list(dict.fromkeys([*(key_cols if assign else ["doc_id"]), text_col, *ident]))
    tbl = docs.select(*cols, _lineage_key(lkey).alias("_lkey")).toArrow()
    n = tbl.num_rows
    if assign:
        if any(tbl[c].null_count for c in key_cols):
            raise null_key_error(key_cols)
        tbl = tbl.take(pc.sort_indices(tbl, [(c, "ascending") for c in key_cols]))
        tbl = tbl.append_column("doc_id", pa.array(np.arange(1, n + 1, dtype=np.int64)))
        id_type = LongType()
    else:
        tbl = tbl.sort_by("doc_id")
        id_type = docs.schema["doc_id"].dataType

    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    step = step if step > 0 else max(n, 1)
    pdf = tbl.select(["doc_id", text_col]).to_pandas()
    packer = _make_doc_packer(
        spec, text_col, DEFAULT_CHUNK_BITS, with_positions, with_offsets, payload_fn
    )
    parts = list(packer(pdf.iloc[i : i + step] for i in range(0, n, step)))
    lens, post = np.zeros(0, dtype=np.int32), None
    if parts:
        partials = pd.concat(parts, ignore_index=True)
        is_dl = partials["term"].isna().to_numpy()
        # slices are id-sorted and each doclen row lists its slice's ids in
        # stable order, so the lens line up with tbl's rows
        lens = decode_doclen(partials[is_dl])[1]
        post = partials[~is_dl]
    postings = _local_postings(post, with_positions, with_offsets, payload_fn is not None)
    tables = {
        "postings": postings,
        "term_stats": _local_term_stats(postings[0]),
        "docmap": (
            pa.table({"doc_id": tbl["doc_id"], "len": lens, **{c: tbl[c] for c in ident}}),
            StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("len", IntegerType()),
                    *[docs.schema[c] for c in ident],
                ]
            ),
        ),
        "lineage": (_local_lineage(tbl, text_col), LINEAGE_SCHEMA),
    }
    for table, (t, sch) in tables.items():
        _write_table(store.seg_path(seg_name, table), t, sch, term_groups=table == "postings")
    return _local_aggs(tbl["doc_id"].to_numpy(), lens)


def build_segment_from_tokens(
    spark: SparkSession,
    store: IndexStore,
    tokens: DataFrame,
    docmap: DataFrame,
    seg_name: str,
    analyzer_name: str = "custom",
    with_positions: bool = True,
    commit: bool = True,
) -> SegmentMeta:
    """Build a segment from a PRE-TOKENIZED stream instead of raw docs —
    the hook for analyzers whose token positions Spark arrays cannot
    express (increment-0 / overlapping tokens, reference
    token_attributes::increment, core/analysis/token_attributes.hpp:50-63:
    several terms may share one position).

    tokens: (doc_id, dl, term, pos) rows — multiple terms per (doc_id,
    pos) allowed, and a term repeated at one position counts once per
    occurrence in tf. The rows are grouped per doc into position-sorted
    arrays and packed by the build's one packer (the doc packer's
    token-array front, then `_make_partial_merger`); the caller's dl and
    positions pass through unchanged and NULL terms are dropped. docmap:
    (doc_id, len, ...identity columns) for every doc. Lineage is recorded
    over the docmap rows (no raw text at this seam).
    """
    n_part = spark.sparkContext.defaultParallelism
    pos = F.col("pos") if with_positions else F.lit(0)
    per_doc = (
        tokens.where(F.col("term").isNotNull())
        .groupBy("doc_id", "dl")
        .agg(F.sort_array(F.collect_list(F.struct(pos.alias("pos"), "term"))).alias("_k"))
        .select("doc_id", "dl", F.col("_k.pos").alias("pos"), F.col("_k.term").alias("term"))
        # docs ascend in every packer batch, so the merger keeps its
        # sorted-stream path
        .sortWithinPartitions("doc_id")
    )
    partials = per_doc.mapInPandas(
        _make_token_array_packer(DEFAULT_CHUNK_BITS, with_positions), _PARTIAL_SCHEMA
    )
    packed = merge_partials(partials, with_positions=with_positions, num_partitions=n_part)
    write_postings(packed, store.seg_path(seg_name, "postings"))
    _write_term_stats(spark, store, seg_name, n_part)
    docmap.write.mode("overwrite").parquet(store.seg_path(seg_name, "docmap"))
    key = F.col("doc_id").cast("string")
    docmap_src = store.read(spark, seg_name, "docmap")
    docmap_src.withColumn("_part", F.pmod(F.xxhash64(key), F.lit(LINEAGE_PARTS))).withColumn(
        "_rh", F.xxhash64(key, F.col("len"))
    ).groupBy(F.col("_part").alias("part")).agg(
        F.count("*").alias("doc_count"),
        F.sum("len").alias("bytes"),
        F.expr("bit_xor(_rh)").alias("input_hash"),
    ).write.mode("overwrite").parquet(store.seg_path(seg_name, "lineage"))
    return _commit_segment(store, seg_name, _docmap_aggs(docmap_src), analyzer_name, commit)


def import_segment(
    spark: SparkSession,
    dst: IndexStore,
    src: IndexStore,
    seg_name: str,
    new_name: str | None = None,
    commit: bool = True,
) -> SegmentMeta:
    """Bulk-import a committed segment from another store (reference
    IndexWriter::Import, core/index/index_writer.cpp:1653): the immutable
    segment tables are copied verbatim — no re-tokenize, no re-pack — and
    registered in the destination manifest (base_doc reassigned at
    commit). Pending deletes on the source segment are refused (the
    reference imports a READER snapshot with its mask already applied;
    consolidate in the source first). Analyzers must match, or the
    destination's queries would tokenize differently than the imported
    postings."""
    import dataclasses
    import shutil

    sm = src.current()
    by = {s.name: s for s in sm.segments}
    if seg_name not in by:
        raise KeyError(f"segment {seg_name!r} not committed in source store")
    dels = src.read_deletes(spark)
    if dels is not None and dels.where(F.col("segment") == seg_name).limit(1).count():
        raise ValueError(
            f"source segment {seg_name!r} has pending deletes; consolidate "
            "the source first (import takes a clean reader snapshot)"
        )
    dm = dst.current()
    if dm.segments and dm.analyzer != sm.analyzer:
        raise ValueError(
            f"analyzer mismatch: destination {dm.analyzer!r} vs source {sm.analyzer!r}"
        )
    new_name = new_name or seg_name
    for t in TABLES:
        sp = src.seg_path(seg_name, t)
        if os.path.exists(sp):
            dp = dst.seg_path(new_name, t)
            if os.path.exists(dp):
                shutil.rmtree(dp)
            shutil.copytree(sp, dp)
    meta = dataclasses.replace(by[seg_name], name=new_name, created_at=time.time())
    if commit:
        m = dst.current()
        m.segments = [s for s in m.segments if s.name != new_name] + [meta]
        if len(m.segments) == 1:
            m.analyzer = sm.analyzer
        m.gen += 1
        dst.commit(m)
    return meta


# ---------------------------------------------------------------------------
# Resume / verification helpers (north rule: resumable from checkpoint with
# per-partition lineage; per-row content-sha256 invariant vs the source)
# ---------------------------------------------------------------------------

def verify_lineage(
    spark: SparkSession,
    store: IndexStore,
    seg_name: str,
    source_docs: DataFrame,
    key_cols: list[str] | None = None,
    text_col: str = "content",
) -> bool:
    """Recompute the per-partition lineage of `source_docs` and compare to
    the lineage rows committed with the segment. Equality proves the
    committed segment was built from exactly this input (doc counts, byte
    sizes, and order-free row hashes all match per logical partition)."""
    key_cols = key_cols or ["repo", "path", "commit"]
    if not all(c in source_docs.columns for c in key_cols):
        key_cols = ["doc_id"]
    expected = {
        (r["part"]): (r["doc_count"], r["bytes"], r["input_hash"])
        for r in _lineage(source_docs, key_cols, text_col).collect()
    }
    got = {
        (r["part"]): (r["doc_count"], r["bytes"], r["input_hash"])
        for r in store.read(spark, seg_name, "lineage").collect()
    }
    return expected == got


def verify_sha_invariant(
    spark: SparkSession,
    store: IndexStore,
    seg_name: str,
    source_docs: DataFrame,
    key_cols: list[str] | None = None,
    text_col: str = "content",
) -> int:
    """Per-row invariant: every docmap row's content_sha256 must equal
    sha256(source content) for the same (key) row. Returns the number of
    violating rows (0 = invariant holds)."""
    key_cols = key_cols or ["repo", "path", "commit"]
    if not all(c in source_docs.columns for c in key_cols):
        key_cols = ["doc_id"]
    docmap = store.read(spark, seg_name, "docmap")
    if "content_sha256" not in docmap.columns:
        raise ValueError("segment docmap has no content_sha256 column")
    src = source_docs.select(
        *key_cols, F.sha2(F.col(text_col), 256).alias("_expected_sha")
    )
    joined = docmap.join(src, key_cols, "left")
    return joined.where(
        F.col("_expected_sha").isNull()
        | (F.col("_expected_sha") != F.col("content_sha256"))
    ).count()


def build_sliced(
    spark: SparkSession,
    store: IndexStore,
    docs: DataFrame,
    n_slices: int,
    prefix: str = "slice",
    key_cols: list[str] | None = None,
    text_col: str = "content",
    stage: bool = True,
    **build_kw,
) -> list[SegmentMeta]:
    """Resumable sliced corpus build — the 100-TB operational shape: the
    input is hash-partitioned into `n_slices` DETERMINISTIC slices on the
    canonical key, each built and committed as its own segment. Because
    every commit is an atomic manifest generation (the Iceberg-snapshot
    analogue) and slice membership is a pure function of the key, a crashed
    or pre-empted job is resumed by RE-INVOKING with the same arguments:
    slices whose segment is already committed are skipped (their lineage
    rows + sha invariant remain verifiable via verify_lineage /
    verify_sha_invariant), the in-flight slice is rebuilt idempotently, and
    the remainder proceeds. Reference analogue: index_writer commits are
    the recovery points; segments are never partially visible
    (core/index/index_writer.cpp:2356-2420 two-phase commit).

    ONE-PASS staging (r5 VERDICT next-3 — the r5 version filtered the full
    source K times, i.e. K full scans at 100 TB): with stage=True (default)
    the source is scanned ONCE, partitioned on the slice hash and written
    as a slice-partitioned parquet intermediate under the index root; each
    per-slice build then reads back only its own partition directory
    (partition-pruned). The stage is resumable too (Spark's _SUCCESS marker
    gates reuse) and is removed after the last slice commits. stage=False
    keeps the filter-per-slice shape for sources that are ALREADY
    bucket/partitioned on the same hash (e.g. an Iceberg table bucketed on
    the key), where engine-side pruning makes the K filters cheap.

    The slicing spec (n_slices + key_cols) is recorded atomically at
    `<root>/slicespec-<prefix>.json` on first invocation and validated on
    every resume: re-invoking with the same prefix but a different
    n_slices/key_cols raises instead of silently mixing partitionings
    across committed and new segments (r5 ADVICE).

    Returns the metas of the segments built or found committed, slice
    order. For cluster runs size slices so one slice's shuffle fits the
    cluster comfortably (e.g. 0.5-2 TB of input per slice at 10^12-file
    scale)."""
    key_cols = key_cols or ["repo", "path", "commit"]
    spec = {"n_slices": n_slices, "key_cols": list(key_cols)}
    spec_path = os.path.join(store.root, f"slicespec-{prefix}.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            prev = json.load(f)
        if prev != spec:
            raise ValueError(
                f"slice spec mismatch for prefix '{prefix}': committed "
                f"{prev} vs invoked {spec} — resuming would silently mix "
                f"partitionings; use a new prefix or matching arguments"
            )
    else:
        tmp = spec_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(spec, f)
        os.replace(tmp, spec_path)
    committed = {s.name for s in store.current().segments}
    slice_col = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_slices))
    remaining = [
        i for i in range(n_slices) if f"{prefix}{i:05d}" not in committed
    ]
    staged: DataFrame | None = None
    stage_dir = os.path.join(store.root, f"_stage_{prefix}")
    if stage and remaining:
        if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
            # the single source scan: partitionBy writes one directory per
            # slice; an interrupted write leaves no _SUCCESS and is redone
            (
                docs.withColumn("_ir_slice", slice_col)
                .write.partitionBy("_ir_slice")
                .mode("overwrite")
                .parquet(stage_dir)
            )
        staged = spark.read.parquet(stage_dir)
    metas: list[SegmentMeta] = []
    for i in range(n_slices):
        name = f"{prefix}{i:05d}"
        if name in committed:
            metas.append(next(s for s in store.current().segments if s.name == name))
            continue
        if staged is not None:
            # partition-pruned read of ONE slice directory
            part = staged.where(F.col("_ir_slice") == i).drop("_ir_slice")
        else:
            part = docs.where(slice_col == i)
        metas.append(
            build_segment(
                spark, store, part, name,
                text_col=text_col, key_cols=key_cols, **build_kw,
            )
        )
    if stage and os.path.exists(stage_dir):
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)
    return metas
