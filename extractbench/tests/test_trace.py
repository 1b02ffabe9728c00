"""Span recording and self-time arithmetic."""

from __future__ import annotations

import types

from extractbench.trace import Span, Tracer, patched, self_time


def _span(start, end, parent=None, i=0):
    return Span(i, "s", start, end, parent, "t")


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 3.0), _span(2.0, 5.0), _span(8.0, 12.0), _span(11.0, 13.0)]
    # covered: [1, 5] and [8, 10] (clipped to the parent) = 6
    assert self_time(parent, children) == 4.0


def test_self_time_without_children_is_the_duration():
    assert self_time(_span(2.0, 5.5), []) == 3.5


def test_self_time_of_fully_covered_span_is_zero():
    assert self_time(_span(0.0, 4.0), [_span(-1.0, 2.0), _span(2.0, 5.0)]) == 0.0


def _clock(ticks):
    it = iter(ticks)
    return lambda: next(it)


def test_tracer_nests_and_totals():
    tr = Tracer(clock=_clock([0.0, 1.0, 3.0, 4.0, 6.0, 10.0]))
    with tr.span("doc", trace="u1"):
        with tr.span("extract"):
            pass
        with tr.span("chunk"):
            pass
    doc, ext, chk = tr.spans
    assert ext.parent == chk.parent == doc.id and doc.parent is None
    assert {sp.trace for sp in tr.spans} == {"u1"}
    tot = tr.totals()
    assert tot["doc"] == {"calls": 1, "total_s": 10.0, "self_s": 6.0}
    assert tot["extract"]["self_s"] == 2.0 and tot["chunk"]["self_s"] == 2.0


def test_patched_wraps_functions_and_methods_and_restores_them(monkeypatch):
    mod = types.ModuleType("fake_layer_mod")

    def parse(x):
        return x + 1

    class Store:
        def write(self, x):
            return x * 2

    mod.parse, mod.Store = parse, Store
    monkeypatch.setitem(__import__("sys").modules, "fake_layer_mod", mod)
    tr = Tracer()
    with patched(tr, [("fake_layer_mod", "parse", "p"), ("fake_layer_mod", "Store.write", "w")]):
        with tr.span("root"):
            assert mod.parse(1) == 2
            assert Store().write(3) == 6
    assert mod.parse is parse and Store.write.__name__ == "write"
    root = tr.spans[0]
    assert [(sp.name, sp.parent) for sp in tr.spans[1:]] == [("p", root.id), ("w", root.id)]
