from perfbench.tracing import Span, Tracer, self_time


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    # children cover [1, 4] and [6, 7]: 4 of the 10 seconds
    assert self_time(parent, kids) == 6.0


def test_self_time_clips_children_to_parent():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 3.0, 6.0, 0), _span(2, 9.0, 12.0, 0), _span(3, 0.0, 1.0, 0)]
    assert self_time(parent, kids) == 3.0


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 2.5), []) == 0.5


def test_tracer_nests_and_disabled_tracer_records_nothing():
    tr = Tracer(True)
    with tr.span("outer", run_id="a"):
        with tr.span("inner", run_id="a"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert 0 <= tr.self_time(outer) <= outer.end - outer.start

    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
