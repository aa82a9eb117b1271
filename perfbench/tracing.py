"""Spans recorded by the benchmark around calls into the package's modules.

Tracing is off unless ``Tracer.install`` is called: the untraced run never
wraps anything, so its end-to-end numbers carry no tracing cost.

A span is (id, parent, layer, name, rep, start, end). Spans nest by call
stack: a call into ``tables`` made from inside ``plans.run_extract`` is a
child of the ``run_extract`` span. Spark jobs read back from the event log
are attached as extra children by ``self_times``.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    rep: int
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


# (module path, attribute path, layer) of every public entry point whose
# calls the traced run times. Class methods are wrapped on the class, so
# calls made from inside the package are seen too.
WRAPPED = [
    ("pdf_extractor_spark.sources.pages", "ingest_corpus_to_icetable", "sources"),
    ("pdf_extractor_spark.sources.pages", "ingest_warc_to_icetable", "sources"),
    ("pdf_extractor_spark.plans.extract_plan", "run_extract", "plans"),
    ("pdf_extractor_spark.jobs.corpus_job", "build_corpus", "jobs"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.append", "tables"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.overwrite_partitions", "tables"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.read", "tables"),
    ("pdf_extractor_spark.tables.icetable", "IceTable.read_snapshot", "tables"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.append", "lineage"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.records", "lineage"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.completed_partitions", "lineage"),
    ("pdf_extractor_spark.plans.lineage", "LineageLog.attempts", "lineage"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.rep = -1

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, layer, name, self.rep, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def install(self) -> None:
        """Wrap every ``WRAPPED`` entry point; ``uninstall`` restores them.
        A module that imported a function by name before this call keeps
        the original, so the benchmark looks its entry points up on their
        modules at call time."""
        import importlib

        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            setattr(owner, leaf, self._wrap(orig, layer, attr))
            self._undo.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._undo):
            setattr(owner, leaf, orig)
        self._undo.clear()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(
    spans: list[Span], jobs: list[tuple[float, float, int]]
) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it covered
    by its children. Spark jobs ``(submit, complete, rep)`` are children of
    the innermost span of their rep that contains their submission, and
    their own self time is keyed ``-1 - index``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[int, float] = {}
    for j, (lo, hi, rep) in enumerate(jobs):
        inner = [s for s in spans if s.rep == rep and s.start <= lo <= s.end]
        if inner:
            host = max(inner, key=lambda s: s.start)
            children.setdefault(host.id, []).append((lo, hi))
        out[-1 - j] = hi - lo
    for s in spans:
        covered = union_length(clip(children.get(s.id, []), s.start, s.end))
        out[s.id] = s.dur - covered
    return out
