import types

import pytest

from perfbench.spans import Span, Tracer, self_time


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent, op=None)


def test_self_time_subtracts_child_coverage_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # children cover [1, 5] and [8, 10] inside the parent: 6 of 10
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_nested_spans_record_parents_ops_and_job_groups():
    groups = []
    t = Tracer(set_group=groups.append)
    t.op = 7
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.op == inner.op == 7
    assert groups == [outer.group, inner.group, outer.group, None]
    assert t.children() == {outer.id: [inner]}
    assert outer.end >= inner.end >= inner.start >= outer.start


class _Target:
    def method(self, x):
        return x + 1

    @staticmethod
    def static(x):
        return x * 2


def test_install_wraps_and_uninstall_restores():
    mod = types.ModuleType("fake_layer")
    mod.fn = lambda x: x - 1
    originals = (mod.fn, vars(_Target)["method"], vars(_Target)["static"])
    t = Tracer()
    t.install([(mod, "fn", "layer.fn"), (_Target, "method", "layer.method"),
               (_Target, "static", "layer.static")])
    assert mod.fn is not originals[0]
    assert (mod.fn(5), _Target().method(5), _Target.static(5)) == (4, 6, 10)
    assert [s.name for s in t.spans] == ["layer.fn", "layer.method", "layer.static"]
    t.uninstall()
    assert (mod.fn, vars(_Target)["method"], vars(_Target)["static"]) == originals


def test_double_install_restores_the_first_original():
    mod = types.ModuleType("fake_layer")
    mod.fn = original = lambda: None
    t = Tracer()
    t.install([(mod, "fn", "a")])
    t.install([(mod, "fn", "b")])
    t.uninstall()
    assert mod.fn is original


class _Sticky(types.ModuleType):
    """A module whose attributes stop changing once frozen."""

    frozen = False

    def __setattr__(self, name, value):
        if not self.frozen:
            super().__setattr__(name, value)


def test_uninstall_detects_a_wrapper_left_behind():
    mod = _Sticky("fake_layer")
    mod.fn = lambda: None
    t = Tracer()
    t.install([(mod, "fn", "layer.fn")])
    mod.frozen = True
    with pytest.raises(RuntimeError, match="fake_layer.fn"):
        t.uninstall()
