"""The generator is a pure function of the seed and its inputs.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import numpy as np

from perfbench import gen

N_DOCS = 1000
DOC_FREQ = {f"t{i}": max(1, int(N_DOCS / (i + 1) ** 0.8)) for i in range(2000)}
BIGRAMS = [(f"t{i}", f"t{i + 1}") for i in range(0, 200, 3)]


def op_list(seed: int) -> dict:
    bands = gen.df_bands(DOC_FREQ, N_DOCS)
    emb, pairs = gen.embeddings(seed, 300, 8)
    return {
        "queries": gen.query_sequence(seed, bands, BIGRAMS, 100),
        "batches": gen.batch_sequence(seed, bands, BIGRAMS, 4),
        "deletes": gen.delete_set(seed, N_DOCS),
        "dupes": gen.planted_duplicates(seed, N_DOCS),
        "emb": emb.tobytes(),
        "emb_pairs": pairs,
    }


def test_same_seed_same_ops():
    assert op_list(7) == op_list(7)


def test_other_seed_other_ops():
    a, b = op_list(7), op_list(8)
    assert all(a[k] != b[k] for k in a)


def test_queries_stratified_and_rarely_repeated():
    qs = op_list(3)["queries"]
    for i in range(0, len(qs), len(gen.CATEGORIES)):
        assert sorted(q.kind for q in qs[i:i + len(gen.CATEGORIES)]) == sorted(gen.CATEGORIES)
    assert len(set(qs)) >= 0.95 * len(qs)


def test_batches_share_one_pool():
    for batch in op_list(3)["batches"]:
        assert len(batch) == gen.BATCH_SIZE
        terms = {t for q in batch if q.kind != "Phrase" for t in q.terms}
        assert len(terms) <= gen.BATCH_POOL


def test_planted_embedding_pairs_are_equal_rows():
    emb, pairs = gen.embeddings(5, 300, 8)
    assert pairs and all(np.array_equal(emb[a], emb[b]) for a, b in pairs)
