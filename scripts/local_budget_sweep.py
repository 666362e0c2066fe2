"""Sweep for `SearchEngine.LOCAL_MAX_POSTINGS`: wall time of one `Term`
top-10 (or, with `--batch`, of one 24-query `topk_batch`) at the
driver-local site vs the Spark site, across doc_freq. With `--build`,
the sweep for `segments.LOCAL_BUILD_MAX_BYTES` instead: `build_segment`
at both sites across input sizes; with `--merge`, the same cap as
`merge_segments` reads it, across member sizes.

    python scripts/local_budget_sweep.py [--docs 1000000] [--reps 5] [--batch]
    python scripts/local_budget_sweep.py --build [--sizes 1500,6000,...] [--reps 2]
        [--inputs cached,parquet,uncached]
    python scripts/local_budget_sweep.py --merge [--sizes 1500,3000,...] [--reps 2]

Builds one segment of `--docs` short synthetic docs in which term `pM`
occurs in M of every 1000 docs (doc_freq = docs * M / 1000) and term `fI`
in doc I mod 1000, deletes 1% of the docs (inline tombstone tier), then
times `topk(Term(t), 10).collect()` at both sites with the budget forced
(a huge budget vs 0). Prints one row per term: doc_freq, median local ms,
median Spark ms, and whether the rows matched. The default budget is the
largest doc_freq at which the local site is still no slower than Spark.

`--batch` times `topk_batch(...).collect()` of 24 queries that all
subscribe to one band term `pM` (M <= 100): 22 of Term(pM), And(pM, fI),
Or(pM, fI) and Or(pM, fI, fJ, min_match=2) in turn, with distinct fI,
and two phrases over the docs' fixed word order (p1000 p500 ... p1 fI
gJ), Phrase((pL, pM)) and Phrase((pM, pN)) with L and N the next larger
and smaller per-mille (`f0` follows p1), so the shared scan also decodes
positions. Each row also prints the batch's fan-out-weighted scan estimate
(`last_run["postings_est"]`, the number the budget is compared with).

`--build` generates each size of synthetic corpus (`generate_corpus`)
as each input kind callers pass: cached and counted, written to parquet
and read back, or left uncached. It builds each `--reps` times at each
site (forced) after one warm-up build per site. Each row prints Spark's
plan estimate, `segments.input_bytes` (the number the cap is compared
with; "-" when the input has no trusted size), the best wall time and
the CPU of that run (driver + JVM + Python workers) per site, the site
the cap picks, and whether the four tables the two sites wrote hold the
same rows with the same schemas.

`--merge` builds two segments of `--sizes` docs each (a cached
`generate_corpus` frame per member), deletes 1% of the first one's docs,
and merges the pair `--reps` times at each site (forced) after one
warm-up merge per site. Each row prints the members' uncompressed
postings + docmap footer bytes (the number the cap is compared with), the
best wall time and the CPU of that run per site, the site the cap picks,
and whether the four merged tables are the same.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PERMILLE = (1000, 500, 400, 300, 250, 100, 50, 20, 15, 10, 1)
BATCH = 24


def batch_of(m: int) -> dict:
    """BATCH queries subscribed to `pM`: two phrases with its neighbours
    in the word order, the rest in four shapes over distinct `fI`
    partners."""
    from iresearch_spark.search import And, Or, Phrase, Term

    term = f"p{m}"
    at = PERMILLE.index(m)
    nxt = f"p{PERMILLE[at + 1]}" if at + 1 < len(PERMILLE) else "f0"
    t, out = Term(term), {}
    for i in range(BATCH - 2):
        f1, f2 = Term(f"f{2 * i}"), Term(f"f{2 * i + 1}")
        shapes = (t, And((t, f1)), Or((t, f1)), Or((t, f1, f2), min_match=2))
        out[f"q{i:02d}"] = shapes[i % 4]
    out["ph_prev"] = Phrase((f"p{PERMILLE[at - 1]}", term))
    out["ph_next"] = Phrase((term, nxt))
    return out


def same_tables(spark, store_a, store_b, seg: str) -> bool:
    """The segment's four built tables hold the same rows with the same
    schemas in both stores."""
    for t in ("postings", "term_stats", "docmap", "lineage"):
        a, b = store_a.read(spark, seg, t), store_b.read(spark, seg, t)
        if a.schema != b.schema or a.exceptAll(b).count() or b.exceptAll(a).count():
            return False
    return True


def build_sweep(spark, a) -> None:
    from perfbench.acct import cpu_split

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index import segments

    jvm = spark.sparkContext._gateway.proc.pid
    measure = segments.input_bytes
    # force a site whatever the input kind: the size the choice reads
    forced = {"spark": lambda df, limit: None, "local": lambda df, limit: 0}

    def build(docs, root: str, site: str) -> tuple[float, float]:
        segments.input_bytes = forced[site]
        try:
            c0, t0 = cpu_split(jvm), time.perf_counter()
            segments.build_segment(spark, segments.IndexStore(root), docs, "s0")
            wall, c = time.perf_counter() - t0, cpu_split(jvm) - c0
        finally:
            segments.input_bytes = measure
        return wall, c.driver + c.jvm + c.workers + c.jit

    def frame(kind: str, n: int, tmp: str):
        docs = generate_corpus(spark, n, seed=n)
        if kind == "cached":
            docs = docs.persist()
            docs.count()
        elif kind == "parquet":
            path = os.path.join(tmp, f"in-{n}")
            docs.write.mode("overwrite").parquet(path)
            docs = spark.read.parquet(path)
        return docs

    mb = lambda b: "-" if b is None else f"{b / 2**20:.1f}"  # noqa: E731
    with tempfile.TemporaryDirectory(prefix="sweep_build_") as tmp:
        warm = generate_corpus(spark, 200, seed=1)
        for site in forced:
            build(warm, os.path.join(tmp, f"warm-{site}"), site)
        print(f"{'input':>8} {'docs':>7} {'est_MB':>7} {'in_MB':>7} {'spark_s':>8} "
              f"{'spark_cpu':>9} {'local_s':>8} {'local_cpu':>9} {'site':>6} same")
        for kind in a.inputs:
            for n in a.sizes:
                docs = frame(kind, n, tmp)
                est, size = segments.plan_bytes(docs), measure(docs, 2**62)
                site = "local" if size is not None and size <= segments.LOCAL_BUILD_MAX_BYTES else "spark"
                best: dict[str, tuple[float, float]] = {}
                for rep in range(a.reps):
                    for s in forced:
                        run = build(docs, os.path.join(tmp, f"{kind}-{n}-{s}"), s)
                        best[s] = min(best.get(s, run), run)
                same = same_tables(
                    spark,
                    *(segments.IndexStore(os.path.join(tmp, f"{kind}-{n}-{s}")) for s in forced),
                    "s0",
                )
                docs.unpersist()
                print(f"{kind:>8} {n:>7} {mb(est):>7} {mb(size):>7} {best['spark'][0]:>8.2f} "
                      f"{best['spark'][1]:>9.2f} {best['local'][0]:>8.2f} {best['local'][1]:>9.2f} "
                      f"{site:>6} {same}", flush=True)


def merge_sweep(spark, a) -> None:
    import shutil

    from pyspark.sql import functions as F

    from perfbench.acct import cpu_split

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index import merge, segments

    jvm = spark.sparkContext._gateway.proc.pid
    cap = segments.LOCAL_BUILD_MAX_BYTES
    forced = {"spark": -1, "local": 2**62}

    def members(root: str, n: int) -> int:
        """Build segments a and b of n docs under `root`, delete 1% of a;
        returns their footer bytes."""
        store = segments.IndexStore(root)
        for i, name in enumerate("ab"):
            docs = generate_corpus(spark, n, seed=n + i).persist()
            docs.count()
            segments.build_segment(spark, store, docs, name)
            docs.unpersist()
        store.remove(spark, spark.range(1, n + 1, 100).select(F.lit("a").alias("segment"), F.col("id").alias("doc_id")))
        return segments._uncompressed_bytes(
            f for s in "ab" for t in ("postings", "docmap")
            for f in segments._parquet_files(store.seg_path(s, t))
        )

    def run(root: str, site: str) -> tuple[float, float]:
        segments.LOCAL_BUILD_MAX_BYTES = forced[site]
        try:
            c0, t0 = cpu_split(jvm), time.perf_counter()
            merge.merge_segments(spark, segments.IndexStore(root), ["a", "b"], "m", commit=False)
            wall, c = time.perf_counter() - t0, cpu_split(jvm) - c0
        finally:
            segments.LOCAL_BUILD_MAX_BYTES = cap
        return wall, c.driver + c.jvm + c.workers + c.jit

    with tempfile.TemporaryDirectory(prefix="sweep_merge_") as tmp:
        warm = os.path.join(tmp, "warm")
        members(warm, 200)
        for site in forced:
            run(warm, site)
        print(f"{'docs':>7} {'footer_MB':>9} {'spark_s':>8} {'spark_cpu':>9} {'local_s':>8} "
              f"{'local_cpu':>9} {'site':>6} same")
        for n in a.sizes:
            root = os.path.join(tmp, f"m{n}")
            footer = members(root, n)
            for site in forced:
                shutil.copytree(root, f"{root}-{site}")
            best: dict[str, tuple[float, float]] = {}
            for rep in range(a.reps):
                for s in forced:
                    r = run(f"{root}-{s}", s)
                    best[s] = min(best.get(s, r), r)
            same = same_tables(
                spark, *(segments.IndexStore(f"{root}-{s}") for s in forced), "m"
            )
            print(f"{n:>7} {footer / 2**20:>9.1f} {best['spark'][0]:>8.2f} {best['spark'][1]:>9.2f} "
                  f"{best['local'][0]:>8.2f} {best['local'][1]:>9.2f} "
                  f"{'local' if footer <= cap else 'spark':>6} {same}", flush=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--docs", type=int, default=1_000_000)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    p.add_argument("--batch", action="store_true", help="time a 24-query topk_batch")
    p.add_argument("--build", action="store_true", help="time build_segment by input size")
    p.add_argument("--merge", action="store_true", help="time a 2-segment merge_segments by member size")
    p.add_argument(
        "--sizes",
        type=lambda s: [int(x) for x in s.split(",")],
        help="--build input sizes / --merge member sizes in docs, comma-separated "
        "(default 1500,3000,6000,12000,24000,48000 / 1500,3000,6000,9000,12000)",
    )
    p.add_argument(
        "--inputs",
        type=lambda s: s.split(","),
        default=["cached", "parquet", "uncached"],
        help="--build input kinds, comma-separated: cached, parquet, uncached",
    )
    a = p.parse_args()

    from pyspark.sql import functions as F

    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine, Term
    from iresearch_spark.session import get_spark

    # no console progress bars: they share lines with the printed rows
    spark = get_spark(
        "local-budget-sweep", cores=a.cores, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    if a.build or a.merge:
        if a.sizes is None:
            a.sizes = [1500, 3000, 6000, 9000, 12000] if a.merge else [1500, 3000, 6000, 12000, 24000, 48000]
        (merge_sweep if a.merge else build_sweep)(spark, a)
        spark.stop()
        return
    words = [F.when(F.col("doc_id") % 1000 < m, F.lit(f"p{m}")) for m in PERMILLE]
    docs = spark.range(1, a.docs + 1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *words,
            F.concat(F.lit("f"), (F.col("id") % 1000).cast("string")),
            F.concat(F.lit("g"), (F.col("id") % 37).cast("string")),
        ).alias("content"),
    )
    with tempfile.TemporaryDirectory(prefix="sweep_ix_") as root:
        store = IndexStore(root)
        t0 = time.perf_counter()
        build_segment(spark, store, docs, "s0", key_cols=["doc_id"], doc_id_col="doc_id")
        print(f"built {a.docs} docs in {time.perf_counter() - t0:.1f} s")
        store.remove(
            spark,
            spark.range(1, a.docs + 1, 100).select(
                F.lit("s0").alias("segment"), F.col("id").alias("doc_id")
            ),
        )
        eng = SearchEngine(spark, store)
        eng.prepare_dictionary()
        print(f"{'term':>6} {'doc_freq':>9} {'est':>9} {'local_ms':>9} {'spark_ms':>9} same")
        for m in reversed(PERMILLE):
            if a.batch and m > 100:
                break
            term = f"p{m}"
            if a.batch:
                queries = batch_of(m)
                run = lambda: eng.topk_batch(queries, 10)  # noqa: E731
            else:
                run = lambda: eng.topk(Term(term), 10)  # noqa: E731
            walls: dict[int, list[float]] = {}
            rows: dict[int, list] = {}
            for budget in (10**12, 0):
                eng.LOCAL_MAX_POSTINGS = budget
                run().collect()  # warm
                walls[budget] = []
                for _ in range(a.reps):
                    t0 = time.perf_counter()
                    rows[budget] = [tuple(r) for r in run().collect()]
                    walls[budget].append((time.perf_counter() - t0) * 1e3)
                est = eng.last_run["postings_est"]
            df = eng._stats_for([term])[term]
            print(
                f"{term:>6} {df:>9} {est:>9} {statistics.median(walls[10**12]):>9.1f} "
                f"{statistics.median(walls[0]):>9.1f} {rows[10**12] == rows[0]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
