import threading
import types

import pytest

from perfbench.spans import Span, Tracer, covered, mean_self_times, self_times


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_only_once():
    spans = [
        Span("request", 0.0, 10.0, None, "r1"),
        Span("a", 1.0, 4.0, 0, "r1"),
        Span("b", 3.0, 6.0, 0, "r1"),  # overlaps a: covered once
        Span("a.child", 1.5, 2.0, 1, "r1"),
        Span("late", 9.0, 12.0, 0, "r1"),  # clipped to the parent
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.5, 3.0, 0.5, 3.0])


def test_mean_self_times_groups_by_name():
    spans = [
        Span("request", 0.0, 4.0, None, "r1"),
        Span("x", 0.0, 1.0, 0, "r1"),
        Span("request", 10.0, 12.0, None, "r2"),
        Span("x", 10.0, 13.0, 2, "r2"),
    ]
    means = mean_self_times(spans)
    assert means["x"] == (2.0, 2)
    assert means["request"] == pytest.approx((1.5, 2))


def test_patch_records_nested_spans_and_restore_undoes_it():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig_inner, orig_outer = mod.inner, mod.outer
    tracer = Tracer()
    tracer.patch(mod, "inner", "layer.inner")
    tracer.patch(mod, "outer", "layer.outer")
    with tracer.span("request", "r7"):
        assert mod.outer(1) == 4
    names = [s.name for s in tracer.spans]
    assert names == ["request", "layer.outer", "layer.inner"]
    assert [s.parent for s in tracer.spans] == [None, 0, 1]
    assert {s.request for s in tracer.spans} == {"r7"}
    tracer.restore()
    assert mod.inner is orig_inner and mod.outer is orig_outer


def test_threads_keep_separate_span_trees():
    tracer = Tracer()
    barrier = threading.Barrier(4)

    def client(t):
        with tracer.span("request", f"t{t}"):
            barrier.wait(timeout=10)
            with tracer.span("child"):
                pass

    threads = [threading.Thread(target=client, args=(t,)) for t in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
        assert not th.is_alive()
    for s in tracer.spans:
        if s.name == "child":
            parent = tracer.spans[s.parent]
            assert parent.name == "request" and parent.request == s.request
