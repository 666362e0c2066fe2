"""Stage-level profiling harness for the r7 optimization round.

NOT the driver bench (bench.py is frozen) — this file isolates the
expensive rows' sub-stages with noop sinks (guide §1.4) and job labels
(§1.5) so each optimization targets the stage that actually costs time.

Usage:
    python bench_extra.py [dedup|emb|merge|build|gate|all] [--docs N]

Prints one JSON line per stage: {"stage": ..., "sec": ..., ...extras}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, name, fn, **extra):
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"stage": name, "sec": round(dt, 3), **extra}), flush=True)
    return out


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    n_docs = int(os.environ.get("IR_BENCH_BIG_DOCS", "600000"))
    dedup_docs = int(os.environ.get("IR_BENCH_DEDUP_DOCS", "200000"))
    n_emb = int(os.environ.get("IR_BENCH_EMB", "100000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.session import get_spark

    spark = get_spark("iresearch-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if which in ("dedup", "all"):
        from iresearch_spark.functions.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
            simhash,
            simhash_pairs,
        )
        from iresearch_spark.functions.similarity import release_cached
        from iresearch_spark.index.build import assign_doc_ids

        bcorpus = generate_corpus(spark, n_docs, seed=43, burstiness=0.1)
        frac = max(1, (n_docs + dedup_docs - 1) // dedup_docs)
        dslice = bcorpus.where(F.xxhash64("path") % frac == 0)
        dupes = dslice.where(F.xxhash64("path", "commit") % 50 == 0).withColumn(
            "path", F.concat(F.col("path"), F.lit(".dupcopy"))
        )
        dcorpus = assign_doc_ids(
            dslice.unionByName(dupes), ["repo", "path", "commit"]
        ).persist()
        _timed(spark, "dedup_corpus_materialize", lambda: dcorpus.count())

        # --- simhash sub-stages (twice: first-run allocator/page-cache
        # effects vs warm — the bench.py big-phase pattern) ---
        sk_df = simhash(dcorpus, text_col="content", bits=64, hash_fn="xxhash64")
        _timed(spark, "simhash_sketch_only", lambda: _noop(sk_df))
        _timed(spark, "simhash_sketch_only_warm", lambda: _noop(sk_df))
        full = lambda: simhash_pairs(  # noqa: E731
            dcorpus, text_col="content", bits=64, hash_fn="xxhash64", max_hamming=1
        )
        def run_sim():
            df = full()
            n = df.count()
            release_cached(df)
            return n
        n = _timed(spark, "simhash_pairs_full", run_sim)
        print(json.dumps({"stage": "simhash_pairs_n", "n": n}), flush=True)

        # --- minhash sub-stages ---
        sig_df = minhash_signatures(dcorpus, text_col="content")
        _timed(spark, "minhash_signatures_only", lambda: _noop(sig_df))
        def run_mh():
            df = minhash_lsh_pairs(dcorpus, text_col="content")
            n = df.count()
            release_cached(df)
            return n
        n = _timed(spark, "minhash_pairs_full", run_mh)
        print(json.dumps({"stage": "minhash_pairs_n", "n": n}), flush=True)
        dcorpus.unpersist()

    if which in ("emb", "all"):
        import numpy as np
        import pandas as pd

        from iresearch_spark.functions.similarity import (
            embedding_neardup_pairs,
            hyperplane_lsh_buckets,
            release_cached,
        )

        half = n_emb // 2

        def _gen_emb(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                out = []
                for i in ids:
                    rng = np.random.default_rng(int(i) % half)
                    v = rng.standard_normal(64)
                    if i >= half:
                        v = v + (
                            np.random.default_rng(10_000_000 + int(i)).standard_normal(64)
                            * 0.01
                        )
                    out.append(v.tolist())
                yield pd.DataFrame({"vec_id": ids, "embedding": out})

        emb = (
            spark.range(n_emb)
            .repartition(cpus)
            .mapInPandas(_gen_emb, "vec_id long, embedding array<double>")
            .persist()
        )
        _timed(spark, "emb_materialize", lambda: emb.count())
        buck = hyperplane_lsh_buckets(emb, 64, 12, 42).select("vec_id", "bucket").persist()
        _timed(spark, "emb_bucket_only", lambda: buck.count())
        # candidate-volume probe: how many (id_a, id_b) pairs the bucket
        # join emits before/after dedup (sizes the verify stage)
        probes = [0] + [1 << i for i in range(12)]
        a = buck.select(
            F.col("vec_id").alias("id_a"),
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probes])
            ).alias("bucket"),
        )
        b = buck.select(F.col("vec_id").alias("id_b"), "bucket")
        raw = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
        n_raw = _timed(spark, "emb_cand_raw_count", lambda: raw.count())
        ded = raw.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        n_ded = _timed(spark, "emb_cand_dedup_count", lambda: ded.count())
        print(json.dumps({"stage": "emb_cand_counts", "raw": n_raw, "dedup": n_ded}), flush=True)
        buck.unpersist()
        def run_nd():
            df = embedding_neardup_pairs(
                emb, 64, threshold=0.99, n_planes=12, multiprobe_bits=1
            )
            n = df.count()
            release_cached(df)
            return n
        n = _timed(spark, "emb_neardup_full", run_nd)
        print(json.dumps({"stage": "emb_neardup_n", "n": n}), flush=True)
        emb.unpersist()

    if which == "batchwand":
        # r6 VERDICT next-5: MEASURE the "all-subscriber bound almost never
        # fires" claim behind topk_batch's no-block-max choice. For batch
        # widths 4/8/24 over the big tier: per (block, subscribed-query)
        # pair, is bound(block leg) + other-legs-ub < the query's FINAL
        # k-th score (the loosest threshold any partition could ever
        # prune with)? And per block, do ALL subscribers fail (the only
        # case the batch kernel could skip the decode)?
        import numpy as np

        from iresearch_spark.index.segments import IndexStore, build_segment
        from iresearch_spark.search import (
            And, Fuzzy, Or, Phrase, Prefix, SearchEngine, Term, Wildcard,
        )

        broot = tempfile.mkdtemp(prefix="irbw_")
        bstore = IndexStore(broot)
        bcorpus = generate_corpus(spark, n_docs, seed=43, burstiness=0.1).persist()
        bcorpus.count()
        build_segment(spark, bstore, bcorpus, "big0")
        bcorpus.unpersist()
        beng = SearchEngine(spark, bstore)
        beng.prepare_dictionary()
        beng.pin_postings()
        from pyspark.sql import functions as F2

        bstats = (
            beng.term_stats.orderBy(F2.desc("doc_freq"), F2.asc("term"))
            .select("term", "doc_freq").collect()
        )
        bterms = [(r["term"], r["doc_freq"]) for r in bstats]
        bhigh = next(t for t, _ in bterms if t not in ("call", "x"))
        bmed = next(
            (t for t, df in bterms if df <= bterms[0][1] / 10),
            bterms[len(bterms) // 10][0],
        )
        big_cases = {
            "mt": Term(bmed), "ht": Term(bhigh),
            "and": And((Term(bhigh), Term(bmed))),
            "or": Or((Term(bhigh), Term(bmed))),
            "pre": Prefix(bmed[:3]), "wild": Wildcard(f"{bmed[:2]}*"),
            "fz": Fuzzy(bhigh, distance=1),
        }
        k = 10
        for width in (4, 8, 24):
            names = list(big_cases)[: min(width, len(big_cases))]
            batch = {
                f"{nm}#{i}": big_cases[nm]
                for i in range((width + len(names) - 1) // len(names))
                for nm in names
            }
            batch = dict(list(batch.items())[:width])
            # final k-th transformed score per query (the loosest usable
            # threshold) + each query's expansion/bounds via _query_spec
            specs, thrs = {}, {}
            for qn, node in batch.items():
                from iresearch_spark.search.query import normalize

                spec = beng._query_spec(normalize(node))
                if spec is None or spec[4] is not None:
                    continue
                specs[qn] = spec
                rows = beng.topk(node, k).collect()
                thrs[qn] = min(r["score"] for r in rows) if len(rows) == k else float("-inf")
            term_subs = {}
            for qn, (legs, mm, const, merge, _) in specs.items():
                # scored terms: (array scorer, term code); tail terms score 0
                n = legs.n_scored
                ubs = np.concatenate((legs.scorer.term_ubs(), np.zeros(legs.terms.size - n)))
                tot = sum(ubs.tolist())
                for i, t in enumerate(legs.terms.tolist()):
                    term_subs.setdefault(t, []).append(
                        (qn, (legs.scorer, i) if i < n else None, tot - ubs[i], const)
                    )
            blocks = (
                beng.postings.where(F2.col("term").isin(*list(term_subs)))
                .select("term", "max_tf", "min_dl").toPandas()
            )
            pair_total = pair_skip = 0
            block_total = block_all_skip = 0
            for t, grp in blocks.groupby("term"):
                subs = term_subs.get(t, [])
                if not subs:
                    continue
                mt = grp["max_tf"].to_numpy()
                md = grp["min_dl"].to_numpy()
                all_skip = np.ones(len(grp), dtype=bool)
                for qn, leg, other, const in subs:
                    if leg is None:
                        bound = np.zeros(len(mt)) + other + const
                    else:
                        sc, code = leg
                        bound = sc.scores(
                            mt.astype(sc.dtype), md.astype(sc.dtype), np.full(len(mt), code)
                        ).astype(np.float64) + other + const
                    bound = np.float32(bound).astype(np.float64)
                    skip = bound < thrs[qn]
                    pair_total += len(grp)
                    pair_skip += int(skip.sum())
                    all_skip &= skip
                block_total += len(grp)
                block_all_skip += int(all_skip.sum())
            print(json.dumps({
                "stage": f"batchwand_w{width}",
                "queries_batched": len(specs),
                "block_query_pairs": pair_total,
                "pairs_skippable_pct": round(100 * pair_skip / max(1, pair_total), 1),
                "blocks": block_total,
                "blocks_all_subscribers_skippable_pct": round(
                    100 * block_all_skip / max(1, block_total), 1
                ),
            }), flush=True)
        shutil.rmtree(broot, ignore_errors=True)

    if which in ("merge", "build", "gate", "all"):
        from iresearch_spark.index.merge import merge_segments
        from iresearch_spark.index.segments import IndexStore, build_segment

        n_small = int(os.environ.get("IR_BENCH_DOCS", "50000"))
        corpus = generate_corpus(spark, n_small, seed=42).persist()
        corpus.count()
        root = tempfile.mkdtemp(prefix="irx_")
        store = IndexStore(root)
        if which in ("build", "all"):
            warm = IndexStore(tempfile.mkdtemp(prefix="irxw_"))
            build_segment(spark, warm, corpus.limit(500), "w")
            shutil.rmtree(warm.root, ignore_errors=True)
            for i in range(2):
                _timed(
                    spark, f"build_50k_{i}",
                    lambda: build_segment(spark, store, corpus, "bench0"),
                )
        if which in ("merge", "all"):
            h = F.abs(F.hash("repo", "path", "commit")) % 10
            for i in range(10):
                build_segment(spark, store, corpus.where(h == i), f"m{i}")
            for r in range(2):
                _timed(
                    spark, f"merge_10seg_{r}",
                    lambda: merge_segments(
                        spark, store, [f"m{i}" for i in range(10)], f"m10_{r}",
                        commit=False,
                    ),
                )
        corpus.unpersist()
        shutil.rmtree(root, ignore_errors=True)

    if which in ("gate", "all"):
        import __spark_entry__ as E

        from iresearch_spark.functions.similarity import release_cached

        sql_qs = E.queries()
        for name in ("term_high", "or_high_med", "phrase_low", "ngram_jaccard_pairs"):
            for r in range(2):
                def run_gate(name=name):
                    out_df = sql_qs[name](spark, sf_dir)
                    out_df.collect()
                    release_cached(out_df)
                _timed(spark, f"gate_{name}_{r}", run_gate)

    spark.stop()


if __name__ == "__main__":
    main()
