import pytest

from perfbench import trace


def test_spans_nest_and_share_request_ids():
    tr = trace.Tracer(enabled=True)
    with tr.span("a", new_request=True):
        with tr.span("b"):
            with tr.span("c"):
                tr.add("n", 2)
        tr.add("n")
    with tr.span("d", new_request=True):
        pass
    a, b, c, d = tr.spans
    assert (a.parent, b.parent, c.parent, d.parent) == (None, a.id, b.id,
                                                         None)
    assert a.request == b.request == c.request != d.request
    assert c.counts["n"] == 2 and a.counts["n"] == 1
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(enabled=False)
    with tr.span("a") as sp:
        tr.add("n")
    assert sp is None and tr.spans == []


def test_union_and_self_time():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    sp = [trace.Span(1, "p", None, 1, 0.0, 10.0),
          trace.Span(2, "c", 1, 1, 1.0, 4.0),
          trace.Span(3, "c", 1, 1, 3.0, 5.0)]
    st = trace.self_times(sp)
    assert st[1] == pytest.approx(6.0) and st[2] == pytest.approx(3.0)
    assert trace.subtree_ids(sp, 1) == {1, 2, 3}
