"""Span self-time arithmetic and the span stack."""

import pytest

from perfbench import trace


def span(sid, parent, start, end, name="s"):
    return {"id": sid, "name": name, "parent": parent, "tag": f"pbspan{sid}",
            "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (2, 3)]) == 2.0
    assert trace.union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert trace.union_length([(5, 6), (0, 10)]) == 10.0


def test_clipped_keeps_the_overlap_only():
    assert trace.clipped([(0, 5), (6, 8), (9, 12)], 4, 10) == [(4, 5), (6, 8), (9, 10)]
    assert trace.clipped([(0, 1)], 2, 3) == []


def test_self_time_subtracts_direct_children_once():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 3.0),
        span(2, 0, 2.0, 5.0),   # overlaps child 1: union [1, 5]
        span(3, 0, 7.0, 8.0),
        span(4, 1, 1.5, 2.0),   # grandchild: counts against 1, not 0
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_counts():
    t = trace.Tracer()

    def inner():
        assert t.in_span("outer") and t.in_span("inner")
        return 7

    def outer():
        return t.call("inner", inner) + 1

    assert t.call("outer", outer) == 8
    assert not t.in_span("outer")
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] is None
    assert by_name["outer"]["start"] <= by_name["inner"]["start"]
    assert by_name["inner"]["end"] <= by_name["outer"]["end"] + 1e-6
    t.count("x", 2)
    t.count("x", 3)
    assert t.counters == {"x": 5}


def test_tracer_span_closes_on_error():
    t = trace.Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        t.call("failing", boom)
    assert t.stack == [] and t.spans[0]["name"] == "failing"
