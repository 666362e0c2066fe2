"""One benchmark run: `python3 -m perfbench.main --workload W --seed N
--seconds S --trace 0|1`, from the repository root. Start it through
`perfbench/run.py`, which sets the environment Spark's workers need and
reaps every process the run starts.

A run sets up (Spark session, seeded corpus), then builds the index,
deletes from it and reopens it twice, and answers single queries or
batches (the workload's focus op) for `--seconds`. Every output is
checked afterwards, outside the timed spans. A traced run then also
builds a second segment, merges, reopens, and runs dedup and embedding
near-dup, for the per-layer metrics of those modules. The last stdout
line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import acct, gen
from perfbench.check import Corpus, Expected, same_ranking
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Shape:
    base_docs: int
    burstiness: float
    pinned: bool
    focus: str  # "query" or "batch": how the workload answers queries
    min_focus: int


WORKLOADS = {
    # at least one full stratified round of the ten categories
    "point_query": Shape(1500, 0.0, False, "query", 10),
    "batch_scan": Shape(1500, 0.1, True, "batch", 3),
}
K = 10
SLICE_DOCS = 1000
DEDUP_DOCS = 1000
EMB_VECTORS = 1500
EMB_DIM = 32
REOPEN_CATEGORIES = ("HighTerm", "MedTerm", "AndHighMed", "OrHighMed", "MinMatch2of3")
MAX_FOCUS = 400
# multi-term queries checked against topk(wand=False) per run: each check
# is another Spark job, so later ones are counted as unchecked instead
MAX_EXHAUSTIVE_CHECKS = 1


@dataclass
class Op:
    oid: int
    kind: str
    info: dict
    wall: float = 0.0
    ok: bool = True
    cpu: acct.Cpu | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    result: object = None


def to_node(q: gen.Query):
    from iresearch_spark.search import And, Fuzzy, Or, Phrase, Prefix, Term, Wildcard

    t = q.terms
    if q.kind in ("HighTerm", "MedTerm", "LowTerm"):
        return Term(t[0])
    if q.kind == "AndHighMed":
        return And(tuple(Term(x) for x in t))
    if q.kind == "OrHighMed":
        return Or(tuple(Term(x) for x in t))
    if q.kind == "MinMatch2of3":
        return Or(tuple(Term(x) for x in t), min_match=2)
    if q.kind == "Phrase":
        return Phrase(t)
    if q.kind == "Prefix3":
        return Prefix(t[0])
    if q.kind == "Wildcard":
        return Wildcard(t[0])
    if q.kind == "Fuzzy1":
        return Fuzzy(t[0], distance=1)
    raise ValueError(q.kind)


def rows_of(df) -> list[tuple[int, float]]:
    return [(r["gdoc"], r["score"]) for r in df.collect()]


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.shape = WORKLOADS[args.workload]
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[Op] = []
        self.jobs: acct.JobCounter | None = None
        self.jvm_pid: int | None = None
        self.problems: list[str] = []
        self.unchecked = 0
        self.marks: list[tuple[str, float]] = [("start", time.perf_counter())]

    # -- op runner ---------------------------------------------------------

    def op(self, kind: str, fn, **info) -> Op:
        o = Op(len(self.ops), kind, info)
        self.ops.append(o)
        group = f"perfbench-op-{o.oid}"
        if self.jobs:
            self.jobs.begin(group, kind)
        c0 = acct.cpu_split(self.jvm_pid) if self.jvm_pid else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench", kind, op=o.oid):
                o.result = fn()
        except Exception:
            o.ok = False
            self.problems.append(f"op {o.oid} {kind} raised")
            traceback.print_exc(file=sys.stderr)
        o.wall = time.perf_counter() - t0
        if c0 is not None:
            o.cpu = acct.cpu_split(self.jvm_pid) - c0
        if self.jobs:
            o.jobs, o.stages, o.tasks = self.jobs.end(group)
        return o

    def fail(self, o: Op, why: str) -> None:
        o.ok = False
        self.problems.append(f"op {o.oid} {o.kind}: {why}")

    def ops_of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.ok]

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)

    # -- phases ------------------------------------------------------------

    def run(self) -> dict:
        from iresearch_spark import corpus, session
        from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS
        from iresearch_spark.functions import dedup, similarity
        from iresearch_spark.index import merge, segments
        from iresearch_spark.search import executor

        a, sh = self.args, self.shape
        self.stops = frozenset(DEFAULT_STOPWORDS)
        if a.trace:
            self.tracer.interpose()
        steal0 = acct.host_ticks()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # fixed compiler threads: acct.cpu_split reads their CPU per thread
            "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', self.work)}",
        }
        if a.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cores = os.cpu_count() or 1
        o = self.op("setup.session", lambda: session.get_spark("perfbench", cores=cores, extra_conf=conf))
        if not o.ok:
            raise RuntimeError("spark session did not start")
        spark = self.spark = o.result
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = spark.sparkContext._gateway.proc
        self.jvm_pid = self.jvm_proc.pid
        self.jobs = acct.JobCounter(spark.sparkContext)
        try:
            with acct.RssSampler(self.jvm_pid) as rss:
                self.phases(spark, corpus, segments, merge, executor, dedup, similarity)
        finally:
            self.tracer.restore()
            self.stop_spark()
        self.peak_rss = rss.peak
        self.peak_parts = rss.peak_parts
        self.steal = acct.steal_pct(steal0, acct.host_ticks())
        if not a.trace:
            return {}
        job_to_op = {j: o.oid for o in self.ops for j in o.jobs}
        return acct.event_log_totals(self.event_dir, job_to_op)

    def materialize(self, make):
        """Build an input frame with `make()`, cache it and count it."""
        with self.span("corpus", "materialize"):
            df = make().persist()
            df.count()
        return df

    def phases(self, spark, corpus, segments, merge, executor, dedup, similarity) -> None:
        a, sh = self.args, self.shape
        from pyspark.sql import functions as F

        # ---- set-up: inputs ------------------------------------------------
        # one generated corpus, split by row number (the `f<i>` in `path`)
        # into the indexed docs and, in traced runs, the slice merged in
        # later and the dedup input
        n_all = sh.base_docs + (SLICE_DOCS + DEDUP_DOCS if a.trace else 0)
        full = self.op(
            "setup.corpus",
            lambda: self.materialize(
                lambda: corpus.generate_corpus(spark, n_all, seed=a.seed, burstiness=sh.burstiness).withColumn(
                    "_i", F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long")
                )
            ),
        ).result
        bounds = (0, sh.base_docs, sh.base_docs + SLICE_DOCS, sh.base_docs + SLICE_DOCS + DEDUP_DOCS)
        base, slice_df = (full.where(F.col("_i").between(lo, hi - 1)).drop("_i") for lo, hi in zip(bounds, bounds[1:3]))
        # bench-side copy of the rows for the generator and the checker
        # (not timed); within each part, engine doc ids follow key order
        key = ("repo", "path", "commit")
        rows = full.select("_i", *key, "content").collect()
        base_rows, slice_rows, drows = (
            sorted((r for r in rows if lo <= r["_i"] < hi), key=lambda r: tuple(r[k] for k in key))
            for lo, hi in zip(bounds, bounds[1:])
        )
        self.text_bytes = sum(len(r["content"].encode()) for r in base_rows)

        # op lists from the generator, over the base index's df bands
        bc = Corpus(list(range(1, len(base_rows) + 1)), [r["content"] for r in base_rows], self.stops)
        bands = gen.df_bands(bc.doc_freq(), len(base_rows))
        bigrams = bc.bigrams()
        queries = gen.query_sequence(a.seed, bands, bigrams, MAX_FOCUS)
        batches = gen.batch_sequence(a.seed, bands, bigrams, MAX_FOCUS // gen.BATCH_SIZE)
        reopen_qs = gen.query_sequence(a.seed, bands, bigrams, 3, label="reopen", categories=REOPEN_CATEGORIES)

        # ---- timed phase -------------------------------------------------
        # writes first; the queries then run against the index with its
        # deletes
        self.marks.append(("set-up", time.perf_counter()))
        store = segments.IndexStore(os.path.join(self.work, "index"))
        done = self.ingest_phase(spark, segments, executor, store, base, bc, reopen_qs[:2])
        if done is None:
            return
        eng, live, deleted = done
        if sh.pinned:
            self.op("setup.pin", eng.pin_postings)

        def warm_batch():
            w = {"w0": to_node(batches[-1][0]), "w1": to_node(gen.Query("Phrase", bigrams[0]))}
            with self.span("search.executor", "collect"):
                eng.topk_batch(w, K).collect()

        # the single-query path is warm from the reopen queries; the batch
        # path is not
        if sh.focus == "batch":
            self.op("setup.warmup", warm_batch)
        qi, bi = iter(queries), iter(batches)
        # the focus op fills --seconds, runs at least min_focus times, and
        # single queries run in whole stratified rounds, so the CPU per
        # query is over the same category mix in every run
        deadline = time.perf_counter() + a.seconds
        per_round = len(gen.CATEGORIES) if sh.focus == "query" else 1
        n = 0
        while n < sh.min_focus or n % per_round or time.perf_counter() < deadline:
            nxt = next(qi if sh.focus == "query" else bi, None)
            if nxt is None:
                break
            self.query_op(eng, nxt) if sh.focus == "query" else self.batch_op(eng, nxt)
            n += 1
        self.marks.append(("timed phase", time.perf_counter()))

        # ---- checks (outside every timed span) -----------------------------
        self.check_queries(eng, live, deleted)
        self.marks.append(("checks", time.perf_counter()))
        if a.trace:
            self.traced_phase(spark, segments, merge, executor, dedup, similarity, store, bc,
                              base_rows, slice_rows, drows, reopen_qs[2], slice_df, F)
            self.marks.append(("traced ops", time.perf_counter()))

    def traced_phase(self, spark, segments, merge, executor, dedup, similarity, store, bc,
                     base_rows, slice_rows, drows, reopen_q, slice_df, F) -> None:
        """Ops only the traced run makes, for the merge, dedup and
        similarity layers: a second segment and its consolidation with the
        first, with a checked reopen; MinHash / SimHash / embedding
        near-dup pairs with their checks; and the sink-to-noop stages."""
        a = self.args
        planted = gen.planted_duplicates(a.seed, len(drows))
        dtexts = [r["content"] for r in drows] + [drows[i]["content"] for i in planted]
        self.planted_docs = [(i, len(drows) + j) for j, i in enumerate(planted)]
        vecs, self.planted_vecs = gen.embeddings(a.seed, EMB_VECTORS, EMB_DIM)
        ddf = self.op(
            "trace.corpus",
            lambda: self.materialize(
                lambda: spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(len(dtexts), dtype=np.int64), "content": dtexts}))
            ),
        ).result
        edf = self.op(
            "trace.corpus",
            lambda: self.materialize(
                lambda: spark.createDataFrame(
                    pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64), "embedding": list(vecs)}),
                    "vec_id long, embedding array<double>",
                )
            ),
        ).result
        self.merge_phase(spark, segments, merge, executor, store, bc, base_rows, slice_df, slice_rows, reopen_q)
        self.dedup_phase(dedup, similarity, ddf, edf, len(dtexts), len(vecs))
        self.traced_only(dedup, similarity, slice_df, ddf, edf, F)
        self.check_dedup(dtexts, vecs)

    def query_op(self, eng, q: gen.Query) -> Op:
        def fn():
            df = eng.topk(to_node(q), K)
            with self.span("search.executor", "collect"):
                return rows_of(df)

        return self.op("query", fn, q=q)

    def batch_op(self, eng, batch: list[gen.Query]) -> Op:
        def fn():
            df = eng.topk_batch({f"q{i:02d}": to_node(q) for i, q in enumerate(batch)}, K)
            with self.span("search.executor", "collect"):
                out: dict[str, list] = {}
                for r in df.collect():
                    out.setdefault(r["query"], []).append((r["gdoc"], r["score"]))
                return out

        return self.op("batch", fn, batch=batch)

    def reopen_and_check(self, spark, executor, store, label: str, q: gen.Query, live: Corpus, exclude: set[int],
                         kind: str = "ingest.reopen"):
        """Open a fresh engine over the store's current manifest and answer
        one query (timed together); the answer must leave out the docs in
        `exclude` and otherwise match the oracle over `live`. Returns the
        engine, or None when the reopen raised."""

        def reopen():
            e = executor.SearchEngine(spark, store)
            e.prepare_dictionary()
            df = e.topk(to_node(q), K)
            with self.span("search.executor", "collect"):
                return e, rows_of(df)

        o = self.op(kind, reopen, label=label)
        if not o.ok:
            return None
        e, got = o.result
        if any(d in exclude for d, _ in got):
            self.fail(o, f"{label}: a deleted doc was returned for {q}")
        elif not same_ranking(got, Expected(live.oracle_index(set(q.terms)))(q, K, exclude)):
            self.fail(o, f"{label}: {q} differs from the oracle")
        return e

    def ingest_phase(self, spark, segments, executor, store, base, bc: Corpus, reopen_qs):
        """Index the base docs as the store's first segment, delete ~1% of
        them, then twice open a fresh engine and answer a checked query.
        Returns the last engine, which serves the rest of the run, the
        indexed corpus under engine ids and the deleted ids; or None when a
        write failed."""
        n = len(bc.ids)
        if not self.op("ingest.build", lambda: segments.build_segment(spark, store, base, "base0"), docs=n).ok:
            return None
        self.index_bytes = self.ingest_bytes = store.dir_bytes("base0")
        dels = self.deletes = gen.delete_set(self.args.seed, n)
        cond = spark.createDataFrame([("base0", d) for d in dels], "segment string, doc_id long")
        if not self.op("ingest.remove", lambda: store.remove(spark, cond), docs=len(dels)).ok:
            return None
        base_doc = store.current().segments[0].base_doc
        live = Corpus.concat([(bc, base_doc)])
        deleted = {base_doc + d for d in dels}
        e = None
        for q in reopen_qs:
            e = self.reopen_and_check(spark, executor, store, "after remove", q, live, deleted)
            if e is None:
                return None
        return e, live, deleted

    def merge_phase(self, spark, segments, merge, executor, store, bc, base_rows, slice_df, slice_rows, reopen_q) -> None:
        """Index the slice as a second segment, merge both with the
        deletes applied, check the merged segment, reopen and answer a
        checked query."""
        key = ("repo", "path", "commit")
        if not self.op("trace.build", lambda: segments.build_segment(spark, store, slice_df, "ing1"), docs=len(slice_rows)).ok:
            return
        base_of = {s.name: s.base_doc for s in store.current().segments}
        sc = Corpus(list(range(1, len(slice_rows) + 1)), [r["content"] for r in slice_rows], self.stops)
        both = Corpus.concat([(bc, base_of["base0"]), (sc, base_of["ing1"])])
        self.merge_in = store.dir_bytes("base0") + store.dir_bytes("ing1")
        o = self.op("merge", lambda: merge.consolidate(spark, store, "merged", min_segments=2, floor_bytes=1 << 30))
        if not o.ok:
            return
        m = store.current()
        if o.result is None or [s.name for s in m.segments] != ["merged"]:
            self.fail(o, f"consolidation left segments {[s.name for s in m.segments]}")
            return
        self.merge_out = store.dir_bytes("merged")
        inserted, dels = len(base_rows) + len(slice_rows), self.deletes
        if m.docs_count != inserted - len(dels):
            self.fail(o, f"live docs {m.docs_count} != {inserted} inserted - {len(dels)} deleted")
        # the merge renumbers live docs: map the new ids back to source keys
        dm = spark.read.parquet(store.seg_path("merged", "docmap")).select("doc_id", *key).collect()
        gdoc_of = {tuple(r[k] for k in key): m.segments[0].base_doc + r["doc_id"] for r in dm}
        gone = {tuple(base_rows[d - 1][k] for k in key) for d in dels}
        if gone & set(gdoc_of):
            self.fail(o, "deleted docs survived the merge")
        new_ids = [
            None if kk in gone else gdoc_of.get(kk, -1)
            for kk in (tuple(r[k] for k in key) for r in base_rows + slice_rows)
        ]
        if -1 in new_ids:
            self.fail(o, "a live doc is missing from the merged segment")
        self.reopen_and_check(spark, executor, store, "after merge", reopen_q, both.renumbered(new_ids), set(), "merge.reopen")

    def dedup_phase(self, dedup, similarity, ddf, edf, n_docs: int, n_vecs: int) -> None:
        """MinHash-LSH and SimHash near-dup pairs over the dedup corpus,
        embedding near-dup pairs over the vectors."""

        def pairs(df, layer: str):
            with self.span(layer, "collect"):
                out = sorted({(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in df.select("id_a", "id_b").collect()})
                similarity.release_cached(df)
            return out

        calls = (
            ("dedup.minhash", "functions.dedup", {"docs": n_docs},
             lambda: dedup.minhash_lsh_pairs(ddf, text_col="content", id_col="doc_id")),
            # 64-bit sketch, hamming <= 1: the synthetic corpus is
            # simhash-dense at wider radii (see bench.py phase 5)
            ("dedup.simhash", "functions.dedup", {"docs": n_docs},
             lambda: dedup.simhash_pairs(ddf, text_col="content", id_col="doc_id", bits=64, hash_fn="xxhash64", max_hamming=1)),
            ("emb", "functions.similarity", {"vectors": n_vecs},
             lambda: similarity.embedding_neardup_pairs(edf, EMB_DIM, threshold=0.99, n_planes=12, multiprobe_bits=1)),
        )
        for kind, layer, info, make in calls:
            self.op(kind, lambda layer=layer, make=make: pairs(make(), layer), **info)

    def traced_only(self, dedup, similarity, slice0, ddf, edf, F) -> None:
        """Sink-to-noop runs of the stages the timed ops fuse, for per-layer
        attribution (analysis, signatures, sketches, buckets)."""
        from iresearch_spark.index import build

        def noop(layer: str, df):
            with self.span(layer, "noop-sink"):
                df.write.format("noop").mode("overwrite").save()

        docs = slice0.withColumn("doc_id", F.xxhash64("path"))
        self.op("trace.tokenize", lambda: noop("analysis", build.tokenize_stream(docs, "content")))
        self.op("trace.signatures", lambda: noop("functions.dedup", dedup.minhash_signatures(ddf, "content", "doc_id")))
        self.op("trace.sketch", lambda: noop("functions.dedup", dedup.simhash(ddf, "content", "doc_id", bits=64)))
        self.op("trace.buckets", lambda: noop("functions.similarity", similarity.hyperplane_lsh_buckets(edf, EMB_DIM)))

    # -- checks --------------------------------------------------------------

    def check_queries(self, eng, live: Corpus, deleted: set[int]) -> None:
        self.jobs.begin("perfbench-check", "output checks")
        singles = [o for o in self.ops if o.kind == "query" and o.ok]
        batches = [o for o in self.ops if o.kind == "batch" and o.ok]
        terms = {t for o in singles for t in o.info["q"].terms}
        terms |= {t for o in batches for q in o.info["batch"] for t in q.terms}
        expected = Expected(live.oracle_index(terms))
        exhaustive_left = MAX_EXHAUSTIVE_CHECKS
        for o in singles:
            q = o.info["q"]
            if q.kind in gen.ORACLE_CATEGORIES:
                exp = expected(q, K, deleted)
            elif exhaustive_left:
                exhaustive_left -= 1
                exp = rows_of(eng.topk(to_node(q), K, wand=False))
            else:
                self.unchecked += 1
                continue
            if not same_ranking(o.result, exp):
                self.fail(o, f"{q} differs from {'the oracle' if q.kind in gen.ORACLE_CATEGORIES else 'wand=False'}")
        for o in batches:
            for i, q in enumerate(o.info["batch"]):
                if not same_ranking(o.result.get(f"q{i:02d}", []), expected(q, K, deleted)):
                    self.fail(o, f"batch member {q} differs from the oracle")
        # one seeded batch member per run against a per-query topk
        if batches:
            o = batches[0]
            i = self.args.seed % gen.BATCH_SIZE
            if o.result.get(f"q{i:02d}", []) != rows_of(eng.topk(to_node(o.info["batch"][i]), K)):
                self.fail(o, f"batch member q{i:02d} differs from per-query topk")

    def check_dedup(self, texts: list[str], vecs: np.ndarray) -> None:
        found = {}
        for kind, planted in (("dedup.minhash", self.planted_docs), ("dedup.simhash", self.planted_docs), ("emb", self.planted_vecs)):
            for o in self.ops_of(kind):
                missing = set(planted) - set(o.result)
                if missing:
                    self.fail(o, f"{len(missing)} planted duplicate pairs not found, e.g. {sorted(missing)[:3]}")
                found[kind] = len(o.result)
        # pair counts must repeat exactly for the same inputs, across runs
        digest = hashlib.sha256("\0".join(texts).encode() + vecs.tobytes()).hexdigest()[:16]
        path = os.path.join(ROOT, ".perfbench", "pairs", f"{digest}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if os.path.exists(path):
            with open(path) as f:
                before = json.load(f)
            for kind, n in found.items():
                if before.get(kind, n) != n:
                    self.fail(self.ops_of(kind)[0], f"{n} pairs, an earlier run on the same inputs found {before[kind]}")
        else:
            with open(path, "w") as f:
                json.dump(found, f)

    # -- teardown --------------------------------------------------------------

    def stop_spark(self) -> None:
        """Stop Spark, end the gateway JVM and wait for it."""
        self.spark.stop()
        self.jvm_proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            self.jvm_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm_proc.kill()
            self.jvm_proc.wait()
        self.marks.append(("teardown", time.perf_counter()))


def main(argv: list[str] | None = None) -> int:
    from perfbench import report

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    b = Bench(a, work)
    try:
        events = b.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = report.end_to_end(b)
    wall = report.wall_clock(b)
    info = {**wall, **report.informational(b)}
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} cores={os.cpu_count()}")
    for name, (v, unit) in {**e2e, **info}.items():
        print(f"  {name:<28s} {v:14.4f} {unit}")
    print("  wall by phase: " + ", ".join(
        f"{label} {t1 - t0:.1f} s" for (_, t0), (label, t1) in zip(b.marks, b.marks[1:])))
    for msg in b.problems:
        print(f"  CHECK FAILED: {msg}")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{a.workload}-{a.seed}.json")
    if a.trace:
        layers = report.per_layer(b, events)
        print("per-layer metrics:")
        for name, (v, unit) in layers.items():
            print(f"  {name:<34s} {v:16.4f} {unit}")
        print("per-op layer table (self time per layer; cover% = share of wall inside layer spans):")
        for line in report.layer_table(b, events):
            print("  " + line)
        if os.path.exists(untraced):
            with open(untraced) as f:
                before = json.load(f)
            print("tracing overhead (traced - untraced, same workload and seed):")
            for name, (v, unit) in {**e2e, **wall}.items():
                if name in before:
                    print(f"  {name:<28s} {v - before[name]:+14.4f} {unit}")
        else:
            print("tracing overhead: no untraced result for this workload and seed yet")
        b.tracer.dump(os.path.join(results, f"{a.workload}-{a.seed}-spans.json"))
        metrics = layers
    else:
        with open(untraced, "w") as f:
            json.dump({k: v for k, (v, _) in {**e2e, **wall}.items()}, f)
        metrics = e2e
    failed = sum(not o.ok for o in b.ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(b.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
