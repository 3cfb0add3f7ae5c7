"""Tests for span self times and wrapper installation.

Run: python3 -m pytest perfbench/test_tracing.py -q
"""

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def test_self_time_excludes_children():
    t = tracing.Tracer()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    st = t.self_times()
    assert st[outer.id] == 7.0
    assert st[inner.id] == 3.0
    assert inner.parent == outer.id


def test_recursive_call_stays_in_one_span():
    t = tracing.Tracer()
    mod = types.SimpleNamespace()

    def walk(n):
        return 0 if n == 0 else 1 + mod.walk(n - 1)

    mod.walk = t.wrap("walk", walk)
    assert mod.walk(5) == 5
    assert [s.name for s in t.spans] == ["walk"]


def test_patches_restore_module_class_and_instance_attributes():
    t = tracing.Tracer()
    mod = types.SimpleNamespace(f=lambda: 1)

    class C:
        def m(self):
            return 2

    obj = C()
    orig_f, orig_m = mod.f, C.__dict__["m"]
    p = tracing.Patches()
    p.add(mod, "f", t.wrap("f", mod.f))
    p.add(C, "m", t.wrap("m", orig_m))
    p.add(obj, "m", t.wrap("obj.m", obj.m))
    p.install()
    assert (mod.f(), C().m(), obj.m()) == (1, 2, 2)
    assert [s.name for s in t.spans] == ["f", "m", "obj.m"]
    p.remove()
    assert mod.f is orig_f
    assert C.__dict__["m"] is orig_m
    assert "m" not in vars(obj)
    mod.f(), obj.m()
    assert len(t.spans) == 3
