"""Span bookkeeping and self-time arithmetic (no Spark session)."""

import sys
import types

from perfbench import tracing
from perfbench.tracing import Span, Tracer, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "p", "a", None, 0.0, 10.0),
        Span(1, "c1", "b", 0, 2.0, 5.0),
        Span(2, "c2", "b", 0, 4.0, 8.0),  # overlaps c1: union is 2..8
        Span(3, "g", "c", 1, 2.5, 3.0),  # grandchild: only reduces c1
    ]
    st = self_times(spans)
    assert st[0] == 4.0
    assert st[1] == 2.5
    assert st[2] == 4.0
    assert st[3] == 0.5


def test_children_are_clipped_to_parent():
    spans = [Span(0, "p", "a", None, 1.0, 2.0), Span(1, "c", "a", 0, 0.5, 1.5)]
    assert self_times(spans)[0] == 0.5


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_tracer_nests_spans_and_records_parents():
    tr = Tracer(clock=FakeClock())
    with tr.span("outer", "x"):
        with tr.span("inner", "y", kind="k"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.attrs == {"kind": "k"}
    assert (outer.start, inner.start, inner.end, outer.end) == (1, 2, 3, 4)
    assert self_times(tr.spans) == {0: 2.0, 1: 1.0}


def test_instrument_wraps_every_binding_and_restore_undoes_it():
    pkg = "lab_etl_batch_data_processing_pipeline__spark"
    mod = types.ModuleType(f"{pkg}._perfbench_fake")
    copy = types.ModuleType(f"{pkg}._perfbench_fake_copy")

    def fn(x):
        return x + 1

    mod.fn = copy.fn = fn
    sys.modules[mod.__name__] = mod
    sys.modules[copy.__name__] = copy
    try:
        tr = Tracer(clock=FakeClock())
        seen = []
        tr.instrument(mod, "fn", "layer.z", after=lambda r, a, k, o: seen.append(o),
                      post=lambda r, a, k, o: seen.append(-o))
        assert mod.fn is not fn and copy.fn is mod.fn
        assert copy.fn(1) == 2
        assert seen == [2, -2]
        assert [(s.name, s.layer, s.parent) for s in tr.spans] == [
            ("layer.z.fn", "layer.z", None), ("bench.fn", "bench", None)]
        tr.restore()
        assert mod.fn is fn and copy.fn is fn
    finally:
        del sys.modules[mod.__name__], sys.modules[copy.__name__]


def test_idle_frac():
    assert tracing.idle_frac(4.0, 2.0, 4) == 0.5
    assert tracing.idle_frac(10.0, 1.0, 4) == 0.0
    assert tracing.idle_frac(1.0, 0.0, 4) == 0.0
