"""Spans around calls into the library's public functions, recorded from
outside the library.

`Tracer.span` times a block; `Tracer.interpose` replaces module and class
attributes of the library with timing wrappers for the life of a traced
run, so calls made *inside* the library (e.g. `consolidate` calling
`tier_candidates`, `topk` calling `normalize` and `expand`) become child
spans too. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, attribute path, layer) for every call the traced run times
INTERPOSED = (
    ("iresearch_spark.session", "get_spark", "session"),
    ("iresearch_spark.corpus", "generate_corpus", "corpus"),
    ("iresearch_spark.index.build", "tokenize_stream", "analysis"),
    ("iresearch_spark.index.segments", "tokenize_stream", "analysis"),
    ("iresearch_spark.index.segments", "build_segment", "index.segments"),
    ("iresearch_spark.index.segments", "IndexStore.remove", "index.segments"),
    ("iresearch_spark.index.segments", "IndexStore.dir_bytes", "index.segments"),
    ("iresearch_spark.index.merge", "tier_candidates", "index.merge"),
    ("iresearch_spark.index.merge", "merge_segments", "index.merge"),
    ("iresearch_spark.index.merge", "consolidate", "index.merge"),
    ("iresearch_spark.search.executor", "normalize", "search.query"),
    ("iresearch_spark.search.executor", "SearchEngine.__init__", "search.executor"),
    ("iresearch_spark.search.executor", "SearchEngine.prepare_dictionary", "search.executor"),
    ("iresearch_spark.search.executor", "SearchEngine.pin_postings", "search.executor"),
    ("iresearch_spark.search.executor", "SearchEngine.expand", "search.executor"),
    ("iresearch_spark.search.executor", "SearchEngine.topk", "search.executor"),
    ("iresearch_spark.search.executor", "SearchEngine.topk_batch", "search.executor"),
    ("iresearch_spark.functions.dedup", "minhash_signatures", "functions.dedup"),
    ("iresearch_spark.functions.dedup", "simhash", "functions.dedup"),
    ("iresearch_spark.functions.dedup", "minhash_lsh_pairs", "functions.dedup"),
    ("iresearch_spark.functions.dedup", "simhash_pairs", "functions.dedup"),
    ("iresearch_spark.functions.similarity", "hyperplane_lsh_buckets", "functions.similarity"),
    ("iresearch_spark.functions.similarity", "embedding_neardup_pairs", "functions.similarity"),
)


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when `enabled`; otherwise `span` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, self._op, layer, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self._op = None

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    def interpose(self) -> None:
        """Swap every INTERPOSED attribute for a timing wrapper."""
        for mod_name, path, layer in INTERPOSED:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, layer, path))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Layer -> self seconds inside `root`: each span's duration minus the
    part of it its direct children cover (children never overlap: one
    thread, strictly nested). The root's own self time is reported under
    its layer."""
    kids: dict[int, list[Span]] = {}
    inside = [s for s in spans if s.op == root.op]
    for s in inside:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}

    def walk(s: Span) -> None:
        covered = sum(c.end - c.start for c in kids.get(s.sid, ()))
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        for c in kids.get(s.sid, ()):
            walk(c)

    walk(root)
    return out


def total_by_name(spans: list[Span], op: int, name: str) -> tuple[float, int]:
    """(summed wall seconds, call count) of outermost spans called `name`
    within op `op` (a recursive call is counted once)."""
    by_id = {s.sid: s for s in spans}
    total, calls = 0.0, 0
    for s in spans:
        if s.op != op or s.name != name:
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.name != name:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            total += s.end - s.start
            calls += 1
    return total, calls
