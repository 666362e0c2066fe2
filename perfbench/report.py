"""Metrics and tables from a finished run's op records and spans."""

from __future__ import annotations

import statistics

from perfbench import gen
from perfbench.acct import TaskTotals
from perfbench.trace import self_times, total_by_name


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100 * len(s) + 0.5)) - 1))] if s else 0.0


def _cpu(o) -> float:
    """CPU seconds an op used in the driver, the JVM and the workers. The
    JVM's JIT compiler threads are left out: how much they compile during
    an op depends on what ran before it and on timing more than on the op
    (see DESIGN.md)."""
    return o.cpu.driver + o.cpu.jvm + o.cpu.workers


def end_to_end(b) -> dict[str, tuple[float, str]]:
    """The gated end-to-end metrics: name -> (value, unit). Op costs are
    CPU time of the whole process tree, which excludes time the host
    stole from the VM; their wall-clock twins are in `wall_clock`."""
    cpu = lambda kind: sum(_cpu(o) for o in b.ops_of(kind))  # noqa: E731
    focus = b.ops_of(b.shape.focus)
    answered = len(focus) * (gen.BATCH_SIZE if b.shape.focus == "batch" else 1)
    return {
        "setup_s": (sum(o.wall for o in b.ops if o.kind.startswith("setup.")), "s"),
        "query_cpu_ms": (1e3 * sum(_cpu(o) for o in focus) / max(1, answered), "ms"),
        "ingest_cpu_ms_per_doc": (1e3 * (cpu("ingest.build") + cpu("ingest.remove"))
                                  / max(1, sum(o.info["docs"] for o in b.ops_of("ingest.build"))), "ms"),
        "reopen_cpu_ms": (1e3 * _med([_cpu(o) for o in b.ops_of("ingest.reopen")]), "ms"),
        "index_bytes_per_doc_byte": (b.index_bytes / b.text_bytes, "ratio"),
        "peak_rss_mb": (b.peak_rss / 2**20, "MB"),
    }


def wall_clock(b) -> dict[str, tuple[float, str]]:
    """The same ops in wall-clock terms, as a user waits for them, and
    (traced runs) the merge, dedup and embedding ops. Printed, not gated:
    on a VM whose host steals CPU they spread wider than the CPU figures
    (see DESIGN.md)."""
    walls = lambda kind: [o.wall for o in b.ops_of(kind)]  # noqa: E731
    q = walls("query")
    ingest_s = sum(walls("ingest.build")) + sum(walls("ingest.remove"))
    ingest_docs = sum(o.info["docs"] for o in b.ops_of("ingest.build"))
    dedup_s = sum(walls("dedup.minhash")) + sum(walls("dedup.simhash"))
    dedup_docs = _mean([o.info["docs"] for o in b.ops_of("dedup.minhash")])
    emb = b.ops_of("emb")
    p90 = percentile(q, 90)
    if b.shape.focus == "query":
        out = {
            "query_p50_ms": (1e3 * _med(q), "ms"),
            "query_p90_ms": (1e3 * p90, "ms"),
            "query_samples": (len(q), "count"),
            "query_samples_above_p90": (sum(1 for x in q if x > p90), "count"),
        }
    else:
        out = {"batch_qps": (_med([gen.BATCH_SIZE / w for w in walls("batch")]), "queries/s")}
    out.update({
        "ingest_docs_per_s": (ingest_docs / ingest_s if ingest_s else 0.0, "docs/s"),
        "reopen_ms": (1e3 * _med(walls("ingest.reopen")), "ms"),
    })
    if b.args.trace:
        out.update({
            "merge_s": (_med(walls("merge")), "s"),
            "dedup_docs_per_s": (dedup_docs / dedup_s if dedup_s else 0.0, "docs/s"),
            "emb_vectors_per_s": (emb[0].info["vectors"] / emb[0].wall if emb else 0.0, "vectors/s"),
        })
    return out


def informational(b) -> dict[str, tuple[float, str]]:
    """Printed, not gated."""
    return {
        "failed_frac": ((len(b.ops) - sum(o.ok for o in b.ops)) / len(b.ops), "ratio"),
        "unchecked_queries": (b.unchecked, "count"),
        "peak_rss_jvm_mb": (b.peak_parts[0] / 2**20, "MB"),
        "peak_rss_workers": (b.peak_parts[1], "count"),
        "jit_cpu_s": (sum(o.cpu.jit for o in b.ops if o.cpu), "s"),
        "steal_pct": (b.steal, "%"),
    }


def per_layer(b, events: dict[int, TaskTotals]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: name -> (value, unit)."""
    spans = b.tracer.spans
    roots = {s.op: s for s in spans if s.parent is None}
    ops = b.ops_of
    ev = lambda o: events.get(o.oid, TaskTotals())  # noqa: E731

    def span_total(kind: str, name: str) -> list[float]:
        return [total_by_name(spans, o.oid, name)[0] for o in ops(kind)]

    focus = ops(b.shape.focus)
    per_q = gen.BATCH_SIZE if b.shape.focus == "batch" else 1
    nq = max(1, len(focus) * per_q)
    fsum = lambda f: sum(f(o) for o in focus) / nq  # noqa: E731
    plan_name = "SearchEngine.topk_batch" if b.shape.focus == "batch" else "SearchEngine.topk"
    norm_s = [total_by_name(spans, o.oid, "normalize") for o in focus]
    rows = sum(sum(len(v) for v in o.result.values()) if per_q > 1 else len(o.result) for o in focus)
    scan_records = sum(ev(o).scan_records for o in focus)
    builds, merges = ops("ingest.build"), ops("merge")
    dd = ops("dedup.minhash") + ops("dedup.simhash")
    emb = ops("emb")
    wall = lambda kind: sum(o.wall for o in ops(kind))  # noqa: E731
    merge_in, merge_out = getattr(b, "merge_in", 0), getattr(b, "merge_out", 0)
    return {
        "session.start_s": (wall("setup.session"), "s"),
        "corpus.gen_s": (wall("setup.corpus"), "s"),
        "proc.steal_pct": (b.steal, "%"),
        "trace.min_coverage_pct": (min(coverage(b, roots[o.oid]) for o in b.ops if o.oid in roots), "%"),
        "segments.build_s": (_mean([o.wall for o in builds]), "s"),
        "segments.build_jobs": (_mean([len(o.jobs) for o in builds]), "count"),
        "segments.build_stages": (_mean([o.stages for o in builds]), "count"),
        "segments.build_worker_cpu_s": (_mean([o.cpu.workers for o in builds]), "s"),
        "segments.build_jvm_cpu_s": (_mean([o.cpu.jvm for o in builds]), "s"),
        "segments.shuffle_write_bytes": (_mean([ev(o).shuffle_write_bytes for o in builds]), "bytes"),
        "segments.remove_ms": (1e3 * _mean([o.wall for o in ops("ingest.remove")]), "ms"),
        "segments.bytes_written": (b.ingest_bytes, "bytes"),
        "analysis.tokenize_s": (wall("trace.tokenize"), "s"),
        "merge.policy_ms": (1e3 * sum(span_total("merge", "tier_candidates")), "ms"),
        "merge.jobs": (sum(len(o.jobs) for o in merges), "count"),
        "merge.worker_cpu_s": (sum(o.cpu.workers for o in merges), "s"),
        "merge.jvm_cpu_s": (sum(o.cpu.jvm for o in merges), "s"),
        "merge.bytes_read": (merge_in, "bytes"),
        "merge.bytes_written": (merge_out, "bytes"),
        "merge.rewrite_ratio": (merge_out / merge_in if merge_in else 0.0, "ratio"),
        "executor.open_ms": (1e3 * _med(span_total("ingest.reopen", "SearchEngine.__init__")), "ms"),
        "executor.vocab_ms": (1e3 * _med(span_total("ingest.reopen", "SearchEngine.prepare_dictionary")), "ms"),
        "query.normalize_us": (1e6 * sum(t for t, _ in norm_s) / max(1, sum(c for _, c in norm_s)), "us"),
        "executor.plan_ms": (1e3 * _med([total_by_name(spans, o.oid, plan_name)[0] for o in focus]) / per_q, "ms"),
        "executor.expand_ms": (1e3 * fsum(lambda o: total_by_name(spans, o.oid, "SearchEngine.expand")[0]), "ms"),
        "executor.exec_ms": (1e3 * _med([total_by_name(spans, o.oid, "collect")[0] for o in focus]) / per_q, "ms"),
        "executor.driver_cpu_ms": (1e3 * fsum(lambda o: o.cpu.driver), "ms"),
        "executor.jvm_cpu_ms_per_query": (1e3 * fsum(lambda o: o.cpu.jvm), "ms"),
        "executor.worker_cpu_ms_per_query": (1e3 * fsum(lambda o: o.cpu.workers), "ms"),
        "executor.jobs_per_query": (fsum(lambda o: len(o.jobs)), "count"),
        "executor.stages_per_query": (fsum(lambda o: o.stages), "count"),
        "executor.tasks_per_query": (fsum(lambda o: o.tasks), "count"),
        "spark.sched_delay_ms": (fsum(lambda o: ev(o).sched_delay_ms), "ms"),
        "executor.scan_records_per_query": (scan_records / nq, "count"),
        "executor.scan_bytes_per_query": (fsum(lambda o: ev(o).scan_bytes), "bytes"),
        "executor.shuffle_bytes_per_query": (fsum(lambda o: ev(o).shuffle_write_bytes), "bytes"),
        "executor.rows_per_scan_record": (rows / scan_records if scan_records else 0.0, "ratio"),
        "dedup.signature_s": (wall("trace.signatures"), "s"),
        "dedup.sketch_s": (wall("trace.sketch"), "s"),
        "dedup.minhash_s": (wall("dedup.minhash"), "s"),
        "dedup.simhash_s": (wall("dedup.simhash"), "s"),
        "dedup.jobs": (sum(len(o.jobs) for o in dd), "count"),
        "dedup.worker_cpu_s": (sum(o.cpu.workers for o in dd), "s"),
        "dedup.shuffle_bytes": (sum(ev(o).shuffle_write_bytes for o in dd), "bytes"),
        "dedup.minhash_pairs": (sum(len(o.result) for o in ops("dedup.minhash")), "count"),
        "dedup.simhash_pairs": (sum(len(o.result) for o in ops("dedup.simhash")), "count"),
        "similarity.bucket_s": (wall("trace.buckets"), "s"),
        "similarity.neardup_s": (wall("emb"), "s"),
        "similarity.shuffle_bytes": (sum(ev(o).shuffle_write_bytes for o in emb), "bytes"),
        "similarity.pairs": (sum(len(o.result) for o in emb), "count"),
    }


def coverage(b, root) -> float:
    """Percent of an op's wall time its layer spans cover (100 minus the
    benchmark's own self time)."""
    wall = root.end - root.start
    st = self_times(b.tracer.spans, root)
    return 100.0 * (1 - st.get("bench", 0.0) / wall) if wall > 0 else 100.0


def layer_table(b, events: dict[int, TaskTotals]) -> list[str]:
    """One line per op: wall, self time per layer, Spark counts, CPU split
    and task I/O."""
    roots = {s.op: s for s in b.tracer.spans if s.parent is None}
    out = ["op  kind              wall_ms  cover%  jobs stg tasks  cpu_ms drv/jvm/wrk/jit   scan_rec  scan_B  shuf_B  self_ms by layer"]
    for o in b.ops:
        root = roots.get(o.oid)
        if root is None:
            continue
        st = self_times(b.tracer.spans, root)
        e = events.get(o.oid, TaskTotals())
        cpu = (f"{1e3 * o.cpu.driver:.0f}/{1e3 * o.cpu.jvm:.0f}/{1e3 * o.cpu.workers:.0f}/{1e3 * o.cpu.jit:.0f}"
               if o.cpu else "-")
        layers = " ".join(f"{k}={1e3 * v:.1f}" for k, v in sorted(st.items(), key=lambda kv: -kv[1]) if v >= 5e-4)
        out.append(
            f"{o.oid:<3d} {o.kind:<16s} {1e3 * o.wall:8.1f} {coverage(b, root):6.1f}  {len(o.jobs):4d} {o.stages:3d} "
            f"{o.tasks:5d}  {cpu:>22s} {e.scan_records:9d} {e.scan_bytes:7d} {e.shuffle_write_bytes:7d}  {layers}"
        )
    return out
