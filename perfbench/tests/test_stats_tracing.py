"""Percentiles, sample-count gating and span self times."""

import types

import numpy as np
import pytest

import stats
import tracing


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = list(np.random.default_rng(1).exponential(size=137))
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_cases():
    assert stats.percentile([5.0], 50) == 5.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_p90_refused_below_100_samples():
    assert stats.p90(list(range(99))) is None
    assert stats.p90(list(range(100))) == pytest.approx(89.1)
    s = stats.summary([float(x) for x in range(99)])
    assert s["n"] == 99 and s["p50"] == 49.0 and s["p90"] is None


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_direct_children():
    clock = Clock()
    tr = tracing.Tracer(clock)
    tr.enabled = True
    with tr.span("a"):
        clock.t = 1.0
        with tr.span("b"):
            clock.t = 3.0
            with tr.span("c"):
                clock.t = 6.0
        clock.t = 10.0
    assert [s["parent"] for s in tr.spans] == [None, 0, 1]
    assert tracing.self_times(tr.spans) == [5.0, 2.0, 3.0]
    tot = tracing.layer_totals(tr.spans)
    assert tot["a"] == {"calls": 1, "self_s": 5.0, "total_s": 10.0}


def test_recursive_spans_count_total_once():
    clock = Clock()
    tr = tracing.Tracer(clock)
    tr.enabled = True
    with tr.span("x"):
        with tr.span("x"):
            clock.t = 4.0
    assert tracing.layer_totals(tr.spans)["x"]["total_s"] == 4.0


def test_install_wraps_and_uninstall_restores():
    mod = types.ModuleType("fake_mod")

    class K:
        def f(self, x):
            return x + 1

    mod.K = K
    import sys

    sys.modules["fake_mod"] = mod
    try:
        tr = tracing.Tracer()
        tr.install([("fake_mod", "K.f", "fake.f")])
        assert K().f(1) == 2 and tr.spans == []  # disabled: passes through
        tr.enabled = True
        tr.request = 7
        assert K().f(2) == 3
        assert [(s["name"], s["request"]) for s in tr.spans] == [("fake.f", 7)]
        tr.uninstall()
        assert not hasattr(K.f, "__wrapped__")
    finally:
        del sys.modules["fake_mod"]
