"""Per-kind timing statistics for the benchmark.

Every latency the benchmark reports is a median over ONE op kind: a
median pooled over kinds lands between their clusters and moves with
the mix, not with the code.  ``summarize`` enforces that rule — it
refuses samples of more than one kind — and every summary carries its
sample count and the highest percentile that still has at least
``TAIL_MIN_BEYOND`` samples beyond it (reported, never gated).

Run ``python3 dlxbench/stats.py`` for the self-check.
"""

from __future__ import annotations

import math
import statistics

#: a tail percentile is only reported when this many samples lie beyond it
TAIL_MIN_BEYOND = 10
#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


class PooledKindsError(ValueError):
    """Raised when samples of different op kinds reach one latency."""


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float]) -> dict | None:
    """The highest ladder percentile with >= TAIL_MIN_BEYOND samples
    strictly beyond its nearest rank, or None when there are too few
    samples for any."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return {"p": p, "value": percentile(values, p),
                    "beyond": n - rank}
    return None


def summarize(samples: list[tuple[str, float]]) -> dict:
    """Summary of (kind, value) samples that must all share one kind."""
    kinds = {k for k, _ in samples}
    if len(kinds) != 1:
        raise PooledKindsError(
            f"a latency metric must cover exactly one op kind, got "
            f"{sorted(kinds)}")
    values = [v for _, v in samples]
    q1, med, q3 = quartiles(values)
    return {"kind": kinds.pop(), "n": len(values), "p50": med,
            "q1": q1, "q3": q3, "tail": tail(values)}


def summarize_by_kind(samples: list[tuple[str, float]]) -> dict[str, dict]:
    """One summary per kind, never one across kinds."""
    by: dict[str, list[tuple[str, float]]] = {}
    for kind, value in samples:
        by.setdefault(kind, []).append((kind, value))
    return {kind: summarize(group) for kind, group in sorted(by.items())}


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def _expect(ok: bool, what) -> None:
    # not ``assert``: the self-check must also run under ``python -O``
    if not ok:
        raise AssertionError(what)


def self_check() -> None:
    vals = [float(v) for v in range(1, 101)]
    q = statistics.quantiles(vals, n=4)
    _expect(quartiles(vals) == (q[0], 50.5, q[2]), quartiles(vals))
    _expect(quartiles([3.0]) == (3.0, 3.0, 3.0), "single-sample quartiles")
    # 100 samples: p90's nearest rank is 90, leaving exactly 10 beyond
    t = tail(vals)
    _expect(t == {"p": 90.0, "value": 90.0, "beyond": 10}, t)
    # 19 samples: even the median leaves only 9 beyond it
    _expect(tail(vals[:19]) is None, tail(vals[:19]))
    _expect(tail(vals[:20])["p"] == 50.0, tail(vals[:20]))
    s = summarize([("get", 1.0), ("get", 3.0), ("get", 2.0)])
    _expect(s["n"] == 3 and s["p50"] == 2.0 and s["kind"] == "get", s)
    try:
        summarize([("get", 1.0), ("history", 2.0)])
    except PooledKindsError:
        pass
    else:
        raise AssertionError("pooled kinds were accepted")
    by = summarize_by_kind([("a", 1.0), ("b", 5.0), ("a", 3.0)])
    _expect(by["a"]["p50"] == 2.0 and by["b"]["n"] == 1, by)
    _expect(abs(spread([1.0, 2.0, 3.0, 4.0]) - (3.75 - 1.25) / 2.5) < 1e-12,
            spread([1.0, 2.0, 3.0, 4.0]))


if __name__ == "__main__":
    self_check()
    print("stats self-check ok")
