"""Index inspection CLI — the analogue of the reference's read-only Python
tooling (reference python/scripts/index-dump.py): dump manifest, each
postings file's row groups (row counts and term ranges), and per-term
postings with block metadata, dl read from the docmap's `len`.

    python scripts/index_dump.py --index <root> [--term foo] [--limit 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--term", help="dump postings for this term")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from functools import partial

    import pyarrow.parquet as pq

    from iresearch_spark.index.codec import varint_decode, delta_decode
    from iresearch_spark.index.norms import Norms, docmap_lens
    from iresearch_spark.index.segments import IndexStore, _parquet_files
    from iresearch_spark.session import get_spark

    spark = get_spark("index-dump", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    store = IndexStore(args.index)
    m = store.current()
    print(json.dumps({
        "gen": m.gen,
        "analyzer": m.analyzer,
        "docs_count": m.docs_count,
        "sum_len": m.sum_len,
        "avg_dl": round(m.avg_dl, 4),
        "segments": [s.to_dict() for s in m.segments],
    }, indent=1))

    print("\npostings row groups:")
    for s in m.segments:
        for f in _parquet_files(store.seg_path(s.name, "postings")):
            md = pq.read_metadata(f)
            term = md.schema.names.index("term")
            print(f"  seg={s.name} file={os.path.basename(f)} row_groups={md.num_row_groups}")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(term).statistics
                rng = f"[{st.min!r} .. {st.max!r}]" if st is not None and st.has_min_max else "[no stats]"
                print(f"    {g}: rows={rg.num_rows} terms={rng}")

    if args.term:
        norms = Norms(partial(docmap_lens, store.root))
        blocks = (
            store.read_union(spark, "postings")
            .where(F.col("term") == args.term)
            .orderBy("segment", "block_id")
            .collect()
        )
        print(f"\nterm={args.term!r}: {len(blocks)} block(s)")
        shown = 0
        for b in blocks:
            docs = delta_decode(varint_decode(b["docs_bin"])).astype(int)
            tfs = varint_decode(b["tfs_bin"]).astype(int)
            dls = norms.of(b["segment"], docs).astype(int)
            print(
                f"  seg={b['segment']} block={b['block_id']} n={b['doc_count']} "
                f"docs[{b['first_doc']}..{docs[-1]}] max_tf={b['max_tf']} min_dl={b['min_dl']}"
            )
            for d, tf, dl in list(zip(docs, tfs, dls))[: args.limit]:
                print(f"    doc={d} tf={tf} dl={dl}")
            shown += 1
            if shown >= args.limit:
                break
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
