import types

import pytest

from perfbench.trace import Span, Tracer, by_name, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5.0
    assert union_length([(1, 2), (2, 3)]) == 2.0
    assert union_length([(3, 3), (5, 4)]) == 0.0  # empty or inverted


def test_self_time_subtracts_child_cover_once():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 5.0, 0, 0),  # overlaps a: counted once
        Span("c", 8.0, 12.0, 0, 0),  # clipped to the parent's end
        Span("a.child", 1.5, 2.5, 1, 0),  # only a's self time shrinks
    ]
    assert self_times(spans) == [10.0 - 6.0, 1.0, 3.0, 4.0, 1.0]


def test_self_times_sum_to_root_duration_for_nested_spans():
    clock = iter([0.0, 1.0, 2.0, 4.0, 5.0, 9.0, 10.0, 12.0]).__next__
    tr = Tracer(clock=clock)
    with tr.span("req"):          # 0 .. 12
        with tr.span("x"):        # 1 .. 5
            with tr.span("y"):    # 2 .. 4
                pass
        with tr.span("z"):        # 9 .. 10
            pass
    agg = by_name(tr.spans)
    assert agg["req"]["total_s"] == 12.0
    assert sum(a["self_s"] for a in agg.values()) == pytest.approx(12.0)
    assert agg["x"]["self_s"] == 2.0 and agg["y"]["self_s"] == 2.0
    assert agg["req"]["self_s"] == 12.0 - 4.0 - 1.0


def test_request_ids_shared_within_a_request():
    tr = Tracer()
    for _ in range(2):
        with tr.span("req"):
            with tr.span("inner"):
                pass
    assert [s.rid for s in tr.spans] == [0, 0, 1, 1]
    assert [s.parent for s in tr.spans] == [None, 0, None, 2]


def test_out_of_order_close_is_an_error():
    tr = Tracer()
    a = tr.begin("a")
    tr.begin("b")
    with pytest.raises(RuntimeError):
        tr.end(a)


def test_wrap_times_calls_and_unwrap_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f

    class Server:
        def search(self, q):
            return q * 2

    srv = Server()
    tr = Tracer()
    tr.wrap(mod, "f", "mod.f")
    tr.wrap(srv, "search", "srv.search")
    tr.patch(srv, "search", lambda q: -1)  # a second patch on top
    assert mod.f(1) == 2 and srv.search(3) == -1
    tr.unwrap_all()
    assert mod.f is original
    assert "search" not in vars(srv) and srv.search(3) == 6
    assert [s.name for s in tr.spans] == ["mod.f"]


def test_absorb_renumbers_parents_and_request_ids():
    clock = iter(range(100)).__next__
    a, b = Tracer(clock=clock), Tracer(clock=clock)
    with a.span("req"):
        with a.span("x"):
            pass
    for _ in range(2):
        with b.span("serve"):
            with b.span("y"):
                pass
    a.absorb(b)
    assert [s.name for s in a.spans] == ["req", "x", "serve", "y", "serve", "y"]
    assert [s.parent for s in a.spans] == [None, 0, None, 2, None, 4]
    assert [s.rid for s in a.spans] == [0, 0, 1, 1, 2, 2]
    with a.span("next"):
        pass
    assert a.spans[-1].rid == 3
