"""Span self time: duration less the part its children cover."""

import types

from spans import Span, Tracer


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_merges_overlapping_children_and_clips():
    parent = Span("p", 0.0, 10.0)
    parent.children = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 9.0, 12.0), Span("d", 6.0, 6.0)]
    assert parent.self_time == 10.0 - (4.0 + 1.0)


def test_tracer_nesting_and_self_time():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("outer"):
        clock.t = 1.0
        with tr.span("inner"):
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("inner"):
            clock.t = 6.0
        clock.t = 10.0
    assert tr.self_times("outer") == [10.0 - 3.0 - 1.0]
    assert tr.self_times("inner") == [3.0, 1.0]
    outer = [s for s in tr.spans if s.name == "outer"][0]
    assert all(c.parent is outer for c in outer.children)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_wrapping_restores_originals():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer()
    with tr.wrapping([(mod, "f", "mod.f")]):
        assert mod.f(1) == 2
        assert mod.f is not original
    assert mod.f is original
    assert len(tr.self_times("mod.f")) == 1
