"""Metric math: percentiles with their sample counts, spreads, layer self
time and failure accounting. Pure Python, no Spark, so the tests run in
milliseconds."""

from __future__ import annotations

import math
import statistics
import sys
import traceback


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Median plus the highest of p90/p75/p50 that has at least ten
    samples beyond it, each with the sample count it rests on."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50)
    for q in (90, 75):
        if len(values) * (100 - q) / 100.0 >= 10:
            out[f"p{q}"] = percentile(values, q)
            break
    return out


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, the way
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover. Children may overlap each other (concurrent
    folds); the covered part is their union, so self time never goes
    negative."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


class Failures:
    """Counts attempted and failed operations. Every failure is logged
    to stderr and kept; nothing is dropped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what
        if exc is not None:
            msg += ": " + "".join(traceback.format_exception_only(type(exc), exc)).strip()
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)

    def check(self, what: str, ok: bool) -> bool:
        """Count one attempted check; record a failure when ``ok`` is false."""
        self.attempt()
        if not ok:
            self.fail(what)
        return ok

    @property
    def rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
