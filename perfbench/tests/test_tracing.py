"""Span bookkeeping: job labels, nesting and self time."""

from types import SimpleNamespace

from perfbench.tracing import Span, Tracer


class _Context:
    def __init__(self):
        self.labels = []

    def setJobDescription(self, value):
        self.labels.append(value)


def _tracer(layers):
    ctx = _Context()
    return Tracer(SimpleNamespace(sparkContext=ctx), layers=layers), ctx


def test_labels_follow_the_innermost_span():
    t, ctx = _tracer(layers=True)
    with t.span("rep") as rep:
        with t.span("pagerank", layer=True) as pr:
            pass
    assert ctx.labels == [rep.desc, pr.desc, rep.desc, None]
    assert pr.parent == rep.sid
    assert [s.name for s in t.subtree(rep)] == ["rep", "pagerank"]


def test_layer_spans_are_skipped_when_not_tracing():
    t, ctx = _tracer(layers=False)
    with t.span("rep"):
        with t.span("pagerank", layer=True) as pr:
            assert pr is None
    assert [s.name for s in t.spans] == ["rep"]
    assert t.overhead_s == 0.0


def test_self_time_subtracts_the_union_of_children():
    t, _ = _tracer(layers=True)
    parent = Span("0.p", "p", None, start=0.0, end=10.0)
    t.spans = [
        parent,
        Span("1.a", "a", "0.p", start=1.0, end=3.0),
        Span("2.b", "b", "0.p", start=2.0, end=4.0),  # overlaps a
        Span("3.c", "c", "0.p", start=6.0, end=7.0),
        Span("4.d", "d", "3.c", start=6.0, end=7.0),  # grandchild: not subtracted twice
    ]
    assert t.self_s(parent) == 10.0 - 3.0 - 1.0
