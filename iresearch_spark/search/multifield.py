"""Multi-field indexing + cross-field boolean search.

The reference names a FIELD in every filter (by_term{field, term} —
core/search/term_filter.hpp:36-60; a document carries many indexed
fields, each inverted independently with its own term dictionary, norms
and stats, core/index/field_data.cpp:985-1080). Spark-first restatement:
one packed segment store PER FIELD over a SHARED deterministic doc-id
assignment — `build_multifield` runs `assign_doc_ids` once and feeds the
same ids into every field's `build_segment`, so global docIDs align
across field stores by construction (single segment each, identical
docmap id range => identical base_doc). A cross-field boolean then
combines per-field scored hit sets relationally: And = union +
count==n (exclusion legs anti-join), Or = union + min_match, score merge
kSum/kMax/kMin — the same semantics as the single-field general
evaluator (executor._eval), each leaf scored against ITS OWN field's
statistics (docs-with-field, avgdl, per-field doc_freq), exactly like
the reference's per-field term states.

Scale shape: each field's leaf evaluation is that field's normal packed
scan (term pushdown, one chunk repartition, kernel reduce); the
cross-field combine shuffles only (gdoc, score) hit rows — at most the
per-field hit counts, never postings. Per-field stores also give the
100-TB operational properties independently (per-field merges, deletes,
resumable builds)."""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import Analyzer
from iresearch_spark.index.build import assign_doc_ids
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search.executor import SearchEngine
from iresearch_spark.search.query import And, Node, Not, Or, normalize
from iresearch_spark.search.scorers import Scorer


@dataclass(frozen=True)
class Fielded:
    """Scopes a filter subtree to one indexed field — the `field` every
    reference filter carries. The wrapped subtree evaluates entirely
    inside that field's engine (its stats, its postings)."""

    field: str
    node: Node
    boost: float = 1.0


def build_multifield(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    fields: list[str],
    key_cols: list[str] | None = None,
    doc_id_col: str | None = None,
    analyzers: dict[str, Analyzer] | None = None,
    seg_name: str = "f0",
    **kw,
) -> dict[str, IndexStore]:
    """One segment store per field under `root`, all sharing one doc-id
    assignment. Returns {field: IndexStore}."""
    key_cols = key_cols or ["repo", "path", "commit"]
    if doc_id_col is None:
        docs = assign_doc_ids(docs, key_cols, out_col="doc_id", start=1)
        doc_id_col = "doc_id"
    docs = docs.persist()
    stores: dict[str, IndexStore] = {}
    for f in fields:
        st = IndexStore(os.path.join(root, f"field_{f}"))
        build_segment(
            spark,
            st,
            docs,
            seg_name,
            text_col=f,
            key_cols=key_cols,
            doc_id_col=doc_id_col,
            analyzer=(analyzers or {}).get(f),
            **kw,
        )
        stores[f] = st
    docs.unpersist()
    return stores


class MultiFieldEngine:
    """Cross-field boolean evaluation over per-field SearchEngines.

    Leaves must be `Fielded(field, subtree)`; And/Or/Not combine them with
    the exact relational semantics of the single-field general evaluator
    (executor._eval:1533-1553): union + per-doc count/merge, exclusion
    legs as anti-joins, And(...Not...) split into positive legs minus
    negatives. Tie-break and rounding parity match SearchEngine.topk."""

    def __init__(
        self,
        spark: SparkSession,
        stores: dict[str, IndexStore],
        scorer: Scorer | None = None,
    ):
        if not stores:
            raise ValueError("MultiFieldEngine needs at least one field store")
        self.engines = {
            f: SearchEngine(spark, st, scorer=scorer) for f, st in stores.items()
        }
        self._e0 = next(iter(self.engines.values()))

    def prepare_dictionary(self) -> None:
        for e in self.engines.values():
            e.prepare_dictionary()

    def _eval(self, node, boost: float = 1.0) -> DataFrame:
        import numpy as np

        if isinstance(node, Fielded):
            eng = self.engines.get(node.field)
            if eng is None:
                raise KeyError(f"no index for field {node.field!r}")
            return eng._eval(normalize(node.node), boost * node.boost)
        if isinstance(node, Not):
            # lone NOT = all docs (ANY field's universe — shared docmap)
            # minus child, constant score (boolean_filter.cpp:83-87)
            child = self._eval(node.child, boost)
            b = boost * node.boost
            lit = float(b) if self._e0.precise else float(np.float32(b))
            return (
                self._e0.doc_universe()
                .join(child.select("gdoc"), "gdoc", "left_anti")
                .withColumn("score", F.lit(lit).cast(self._e0._score_t))
            )
        if isinstance(node, And) and any(isinstance(c, Not) for c in node.children):
            negs = [c for c in node.children if isinstance(c, Not)]
            poss = tuple(c for c in node.children if not isinstance(c, Not))
            if poss:
                out = self._eval(
                    And(poss, boost=node.boost, const_boost=node.const_boost,
                        merge=node.merge),
                    boost,
                )
            else:
                # And(Not x, Not y) -> all docs minus the union, constant
                # score boost*node.boost (executor parity, _eval:1515-1516)
                return self._eval(
                    Not(child=Or(tuple(n.child for n in negs)), boost=node.boost),
                    boost,
                )
            for n in negs:
                excl = self._eval(n.child, 1.0)
                out = out.join(excl.select("gdoc"), "gdoc", "left_anti")
            return out
        if isinstance(node, (And, Or)):
            legs = [self._eval(c, boost * node.boost) for c in node.children]
            if not legs:
                return self._e0._empty_hits()
            u = legs[0]
            for df in legs[1:]:
                u = u.unionByName(df)
            agg_fn = {"sum": F.sum, "max": F.max, "min": F.min}[node.merge]
            agg = u.groupBy("gdoc").agg(
                agg_fn("score").alias("_s"), F.count("*").alias("_n")
            )
            need = len(node.children) if isinstance(node, And) else node.min_match
            agg = agg.where(F.col("_n") >= need)
            const = node.const_boost if isinstance(node, And) else 0.0
            score = F.col("_s")
            if const:
                cl = (
                    float(const * boost)
                    if self._e0.precise
                    else float(np.float32(const * boost))
                )
                score = score + F.lit(cl)
            return agg.select(
                "gdoc", score.cast(self._e0._score_t).alias("score")
            )
        raise TypeError(
            f"MultiFieldEngine nodes must be Fielded/And/Or/Not, got {node}"
        )

    def execute(self, node) -> DataFrame:
        return self._eval(node)

    def topk(self, node, k: int = 10) -> DataFrame:
        hits = self._eval(node).select(
            "gdoc", self._e0._final_score("score").alias("score")
        )
        return hits.orderBy(F.desc("score"), F.asc("gdoc")).limit(k)
