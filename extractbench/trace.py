"""In-memory spans, recorded from the benchmark's own files.

Layer functions are wrapped by replacing the module attribute their
callers look up (:func:`patched`), so the program itself is unchanged.
Spans stay in memory and are written out once, at the end of a run.
A span's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # seconds, perf_counter or epoch (one clock per trace)
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Single-threaded span recorder: the open span is the parent of
    every span started inside it."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.trace = ""

    def add(self, name: str, start: float, end: float, parent: int | None,
            trace: str = "", **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, trace or self.trace, attrs)
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        parent = self._open[-1].id if self._open else None
        if trace is not None:
            self.trace = trace
        sp = self.add(name, self.clock(), 0.0, parent, **attrs)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._open.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        children = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        return {sp.id: self_time(sp, children[sp.id]) for sp in self.spans}

    def totals(self) -> dict[str, dict]:
        """Per span name: call count, summed duration, summed self time."""
        selfs = self.self_times()
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for sp in self.spans:
            t = out[sp.name]
            t["calls"] += 1
            t["total_s"] += sp.end - sp.start
            t["self_s"] += selfs[sp.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the union of its children's
    intervals, clipped to the span (children may overlap each other,
    e.g. concurrent Spark jobs, or outlive it)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[str, str, str]]):
    """Wrap ``module.attr`` with a span named ``name`` for each
    ``(module, attr, name)`` target; ``attr`` may be dotted
    (``Class.method``).  The originals are restored on exit."""
    saved = []
    try:
        for mod_name, path, name in targets:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(name, orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
