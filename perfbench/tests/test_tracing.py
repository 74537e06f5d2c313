"""Span recorder and self-time computation on hand-built span trees."""

import json

import pytest

from perfbench.tracing import Span, Tracer, self_times


def test_self_time_subtracts_union_of_children():
    # root 0..10; children 1..4 and 3..6 overlap (union 1..6), and a
    # grandchild 2..3 counts against its parent only
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "construct", 1, 0, 1.0, 4.0),
        Span(2, "action", 1, 0, 3.0, 6.0),
        Span(3, "inner", 1, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "op", 1, None, 0.0, 2.0), Span(1, "late", 1, 0, 1.5, 4.0)]
    assert self_times(spans)[0] == 1.5


def test_tracer_nesting_sets_parent_and_op_id():
    ticks = iter(range(100))
    tracer = Tracer(True, clock=lambda: float(next(ticks)))
    op = tracer.new_op()
    with tracer.span("op", op):
        with tracer.span("construct"):
            pass
        with tracer.span("action"):
            with tracer.span("collect"):
                pass
    names = {s.name: s for s in tracer.spans}
    assert names["op"].parent is None
    assert names["construct"].parent == names["op"].span_id
    assert names["collect"].parent == names["action"].span_id
    assert {s.op_id for s in tracer.spans} == {op}
    # clock ticks: op 0-7, construct 1-2, action 3-6, collect 4-5
    out = {d["name"]: d for d in tracer.to_json()}
    assert out["op"]["self_s"] == 7 - 1 - 3
    assert out["action"]["self_s"] == 3 - 1
    json.dumps(tracer.to_json())


def test_span_closes_on_exception():
    tracer = Tracer(True)
    with pytest.raises(ValueError):
        with tracer.span("op", tracer.new_op()):
            raise ValueError
    assert tracer.spans[0].end >= tracer.spans[0].start
    assert tracer._stack == []


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("op", tracer.new_op()) as span:
        assert span is None
    assert tracer.spans == []
