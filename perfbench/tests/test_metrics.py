"""Metric math of the benchmark: percentiles with sample counts, spread,
self-time subtraction and failure counting."""

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench.metrics import (  # noqa: E402
    Failures,
    layer_self_seconds,
    percentile,
    self_times,
    spread,
    summarize,
    union_length,
)


def test_percentile_interpolates_and_matches_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == statistics.median(xs) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_and_only_supported_tails():
    assert summarize([]) == {"n": 0}
    few = summarize([1.0] * 20)
    assert few["n"] == 20 and "p90" not in few and "p75" not in few
    forty = summarize([float(i) for i in range(40)])
    assert "p75" in forty and "p90" not in forty
    hundred = summarize([float(i) for i in range(100)])
    assert hundred["n"] == 100 and hundred["p90"] == pytest.approx(89.1)
    assert hundred["p50"] == pytest.approx(49.5)


def test_spread_is_iqr_over_median():
    xs = [float(x) for x in range(1, 11)]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)
    assert spread([2.0] * 10) == 0.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3


def _span(i, parent, start, end, layer):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_union_of_concurrent_children():
    spans = [
        _span(0, None, 0.0, 10.0, "bench"),
        _span(1, 0, 1.0, 6.0, "engine"),  # two concurrent folds under one op
        _span(2, 0, 2.0, 7.0, "engine"),
        _span(3, 1, 1.5, 2.5, "log"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 6.0)
    assert st[1] == pytest.approx(5.0 - 1.0)
    assert st[2] == pytest.approx(5.0)
    assert st[3] == pytest.approx(1.0)
    per_layer = layer_self_seconds(spans)
    assert per_layer == pytest.approx({"bench": 4.0, "engine": 9.0, "log": 1.0})


def test_failures_count_every_attempt_and_keep_every_error(capsys):
    f = Failures()
    assert f.rate == 0.0
    f.attempt()
    assert f.check("good", True)
    assert not f.check("bad result", False)
    f.attempt()
    f.fail("raised", ValueError("boom"))
    assert (f.attempted, f.failed) == (4, 2)
    assert f.rate == pytest.approx(0.5)
    assert f.errors == ["bad result", "raised: ValueError: boom"]
    assert "FAILED bad result" in capsys.readouterr().err


def test_reset_samples_forgets_warm_up_timings_but_not_failures():
    from types import SimpleNamespace

    from perfbench.workloads import FULL, Ctx

    tracer = SimpleNamespace(spans=[{}], ops=[{}], bookkeeping_s=2.5)
    ctx = Ctx(None, 1, 1.0, "", tracer, FULL)
    ctx.failures.attempt()
    ctx.failures.fail("warm-up", ValueError("boom"))
    ctx.op_samples["append"] = [0.1]
    ctx.units.append({"kind": "write", "seconds": 0.1, "ops": [], "ok": True})
    ctx.reset_samples()
    assert ctx.op_samples == {} and ctx.units == []
    assert tracer.spans == [] and tracer.ops == [] and tracer.bookkeeping_s == 0.0
    assert (ctx.failures.attempted, ctx.failures.failed) == (1, 1)
