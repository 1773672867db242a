"""Pure statistics for the benchmark: medians, the ten-beyond tail rule,
quartile spread, and the comparison of two sets of runs."""

from __future__ import annotations

import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``xs``."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float], candidates=TAIL_CANDIDATES) -> tuple[float, float] | None:
    """The highest percentile in ``candidates`` with at least ten
    samples strictly beyond it, as (percentile, value); None when no
    candidate has ten samples beyond it."""
    for p in sorted(candidates, reverse=True):
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= 10:
            return p, v
    return None


def spread(xs: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(xs, n=4)``."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def worsening(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first``; negative when it is better."""
    delta = second - first if better == "lower" else first - second
    return delta / abs(first)


def compare_sets(
    first: list[dict[str, float]],
    second: list[dict[str, float]] | None,
    metrics: list[dict],
) -> list[dict]:
    """Judge one or two sets of runs against each metric's bound.

    Each run is a {metric: value} mapping. A metric passes when the
    spread of every set is within its bound and, given a second set,
    its median is not worse than the first set's by more than the
    bound. ``steady`` additionally asks for every spread below a third
    of the bound."""
    rows = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        sets = [first] + ([second] if second is not None else [])
        values = [[run[name] for run in s] for s in sets]
        spreads = [spread(v) for v in values]
        medians = [median(v) for v in values]
        ok = all(s <= bound for s in spreads)
        worse = None
        if second is not None:
            worse = worsening(medians[0], medians[1], m["better"])
            ok = ok and worse <= bound
        rows.append(
            {
                "name": name,
                "bound": bound,
                "medians": medians,
                "spreads": spreads,
                "worse": worse,
                "ok": ok,
                "steady": ok and all(s < bound / 3 for s in spreads),
            }
        )
    return rows
