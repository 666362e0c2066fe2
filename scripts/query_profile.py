"""Driver CPU per point-query category, split by query-path layer.

    python scripts/query_profile.py [--seed 3] [--queries 40] [--docs 1500]
        [--categories Prefix3,Wildcard,Fuzzy1] [--cold]

Builds a perfbench point_query-shaped index for `--seed` (a
`generate_corpus` of `--docs` docs, no burstiness, one segment, 1% of
the docs removed), opens an engine and warms its dictionary. It then
answers `--queries` seeded queries of each category, drawn the way
perfbench draws them (`perfbench.gen`), with `topk(node, 10).collect()`
after one unmeasured warm-up query per category. With `--cold` the
engine's decoded postings cache is emptied before every measured query
(outside the measured time), so the blocks layer shows the first-touch
parquet read.

Every query's driver CPU time (`time.process_time`) is split into
layers by wrapping the engine methods that make them up. Each wrapper
counts its own time minus that of wrapped calls inside it:

  expand        expand_tiered / expand / _expansion / _stats_for
  scorer prep   Scorer.prepare / prepare_terms, _phrase_term_scorer
  plan          _query_spec and _sums_plan (leg tables, bounds), _site
  blocks        _local_blocks (footer pick, postings cache or pyarrow
                read, filter, order)
  kernel        _local_run minus _local_blocks (the sums kernel, top k)
  result frame  _local_frame and the local frame's collect / toPandas
  other         the rest of topk + collect (normalize, run record, ...)

Methods a tree does not have are skipped, so the script also profiles
an older checkout: put that checkout first on PYTHONPATH.
Prints one row per category in ms per query; `legs` and `tail` are the
mean scored-leg and tail-term counts of the run records, and `cached`
the share of picked row groups served from the engine's postings cache
with no parquet read, when they exist. Every query must run on the
driver-local site.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.append(ROOT)

LAYERS = ("expand", "scorer prep", "plan", "blocks", "kernel", "result frame", "other")


class Layers:
    """Exclusive CPU time per layer of the wrapped calls."""

    def __init__(self):
        self.acc: dict[str, float] = defaultdict(float)
        self.stack: list[float] = []

    def wrap(self, owner, name: str, layer: str) -> None:
        fn = owner.__dict__.get(name) if isinstance(owner, type) else getattr(owner, name, None)
        if fn is None:
            return
        if isinstance(fn, (staticmethod, classmethod)):
            return
        acc, stack = self.acc, self.stack

        def timed(*args, **kwargs):
            t0 = time.process_time()
            stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                el = time.process_time() - t0
                inner = stack.pop()
                acc[layer] += el - inner
                if stack:
                    stack[-1] += el

        setattr(owner, name, timed)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("--queries", type=int, default=40)
    p.add_argument("--docs", type=int, default=1500)
    p.add_argument("--categories", default="")
    p.add_argument("--cold", action="store_true", help="empty the postings cache before each measured query")
    a = p.parse_args()

    from perfbench import gen
    from perfbench.check import Corpus
    from perfbench.main import to_node

    from iresearch_spark import corpus as corpus_mod
    from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import executor as X
    from iresearch_spark.search import scorers as S
    from iresearch_spark.session import get_spark

    spark = get_spark(cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="query_profile_")
    try:
        docs = corpus_mod.generate_corpus(spark, a.docs, seed=a.seed, burstiness=0.0).persist()
        docs.count()
        key = ("repo", "path", "commit")
        rows = sorted(docs.select(*key, "content").collect(), key=lambda r: tuple(r[k] for k in key))
        store = IndexStore(root)
        build_segment(spark, store, docs, "base0")
        dels = gen.delete_set(a.seed, len(rows))
        store.remove(spark, spark.createDataFrame([("base0", d) for d in dels], "segment string, doc_id long"))
        docs.unpersist()

        eng = X.SearchEngine(spark, store)
        eng.prepare_dictionary()
        bc = Corpus(list(range(1, len(rows) + 1)), [r["content"] for r in rows], frozenset(DEFAULT_STOPWORDS))
        bands = gen.df_bands(bc.doc_freq(), len(rows))
        bigrams = bc.bigrams()

        lay = Layers()
        for name in ("expand_tiered", "expand", "_expansion", "_stats_for"):
            lay.wrap(X.SearchEngine, name, "expand")
        for cls in {type(eng.scorer), S.Scorer}:
            for name in ("prepare", "prepare_terms"):
                lay.wrap(cls, name, "scorer prep")
        lay.wrap(X, "_phrase_term_scorer", "scorer prep")
        for name in ("_query_spec", "_sums_plan", "_site"):
            lay.wrap(X.SearchEngine, name, "plan")
        lay.wrap(X.SearchEngine, "_local_blocks", "blocks")
        lay.wrap(X.SearchEngine, "_local_run", "kernel")
        lay.wrap(X.SearchEngine, "_local_frame", "result frame")
        for name in ("collect", "toPandas"):
            lay.wrap(X._LocalFrame, name, "result frame")

        cats = [c for c in a.categories.split(",") if c] or list(gen.CATEGORIES)
        print(f"query_profile seed={a.seed} docs={a.docs} queries/category={a.queries} "
              f"(driver CPU, ms per query)")
        print(f"  {'category':<13s}" + "".join(f"{x:>13s}" for x in (*LAYERS, "total"))
              + f"{'legs':>8s}{'tail':>8s}{'cached':>8s}")
        col_tot: dict[str, float] = defaultdict(float)
        for cat in cats:
            qs = gen.query_sequence(a.seed, bands, bigrams, a.queries + 1, label=f"profile-{cat}", categories=(cat,))
            eng.topk(to_node(qs[0]), 10).collect()
            lay.acc.clear()
            total = 0.0
            legs, tail, cached = [], [], []
            for q in qs[1:]:
                if a.cold and hasattr(eng, "_postings_cache"):
                    eng._postings_cache.clear()
                t0 = time.process_time()
                eng.topk(to_node(q), 10).collect()
                total += time.process_time() - t0
                run = eng.last_run
                if run["path"] != "local":
                    print(f"  {cat}: query {q} ran on {run['path']}", file=sys.stderr)
                    return 1
                legs.append(run.get("legs"))
                tail.append(run.get("tail_terms"))
                if "row_groups_cached" in run and run["row_groups"][0]:
                    cached.append(run["row_groups_cached"] / run["row_groups"][0])
            n = len(qs) - 1
            per = {x: 1e3 * lay.acc.get(x, 0.0) / n for x in LAYERS if x != "other"}
            per["other"] = 1e3 * total / n - sum(per.values())
            per["total"] = 1e3 * total / n
            for x, v in per.items():
                col_tot[x] += v

            def mean(xs, fmt="8.1f"):
                xs = [x for x in xs if x is not None]
                return f"{sum(xs) / len(xs):{fmt}}" if xs else f"{'-':>8s}"

            print(f"  {cat:<13s}" + "".join(f"{per[x]:13.3f}" for x in (*LAYERS, "total"))
                  + mean(legs) + mean(tail) + mean(cached, "8.2f"))
        print(f"  {'mean':<13s}" + "".join(f"{col_tot[x] / len(cats):13.3f}" for x in (*LAYERS, "total")))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
