"""The benchmark's pure statistics: tail rule, spread, set comparison."""

import pytest

from stats import compare_sets, percentile, spread, tail

METRICS = [
    {"name": "read_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]


def test_tail_needs_ten_samples_beyond_the_percentile():
    assert tail([float(x) for x in range(1, 51)]) is None
    p, v = tail([float(x) for x in range(1, 101)])
    assert p == 90.0 and v == pytest.approx(90.1)
    p, _ = tail([float(x) for x in range(1, 1001)])
    assert p == 99.0
    p, _ = tail([float(x) for x in range(1, 10_001)])
    assert p == 99.9


def test_tail_counts_only_samples_strictly_beyond():
    # Ninety equal values and ten larger ones: only p90 has all ten
    # beyond it; with no spread at all nothing lies beyond any percentile.
    xs = [1.0] * 90 + [2.0] * 10
    p, v = tail(xs)
    assert p == 90.0 and v == pytest.approx(1.1)
    assert tail([1.0] * 100) is None


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 99) == 5.0


def test_spread_is_quartile_distance_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    # statistics.quantiles(n=4), exclusive method: q1=1.5, q3=4.5.
    assert spread(xs) == pytest.approx(3.0 / 3.0)
    assert spread([2.0] * 10) == 0.0


def _runs(read, setup):
    return [{"read_p50_s": r, "setup_s": s} for r, s in zip(read, setup)]


def test_same_code_sets_pass():
    a = _runs([1.00, 1.01, 0.99, 1.02, 1.00], [30, 31, 29, 30, 30])
    b = _runs([1.01, 1.00, 1.00, 0.99, 1.02], [30, 30, 31, 29, 30])
    rows = {r["name"]: r for r in compare_sets(a, b, METRICS)}
    assert rows["read_p50_s"]["ok"] and rows["read_p50_s"]["steady"]
    assert rows["setup_s"]["ok"]


def test_worse_second_median_fails_only_beyond_bound():
    a = _runs([1.0] * 5, [30] * 5)
    rows = {r["name"]: r for r in compare_sets(a, _runs([1.05] * 5, [30] * 5), METRICS)}
    assert rows["read_p50_s"]["ok"]
    rows = {r["name"]: r for r in compare_sets(a, _runs([1.2] * 5, [30] * 5), METRICS)}
    assert not rows["read_p50_s"]["ok"]
    assert rows["read_p50_s"]["worse"] == pytest.approx(0.2)
    # Better is never a failure, however large.
    rows = {r["name"]: r for r in compare_sets(a, _runs([0.5] * 5, [10] * 5), METRICS)}
    assert all(r["ok"] for r in rows.values())


def test_spread_beyond_bound_fails_every_metric():
    noisy = _runs([0.5, 1.0, 1.5, 1.0, 1.0, 0.6, 1.4], [10, 30, 50, 30, 30, 12, 48])
    rows = {r["name"]: r for r in compare_sets(noisy, None, METRICS)}
    assert not rows["read_p50_s"]["ok"]
    assert not rows["setup_s"]["ok"] and rows["setup_s"]["worse"] is None
    calm = _runs([1.0] * 7, [30, 31, 29, 30, 30, 28, 32])
    rows = {r["name"]: r for r in compare_sets(calm, None, METRICS)}
    assert rows["setup_s"]["ok"] and rows["setup_s"]["steady"]


def test_steady_needs_spread_below_a_third_of_the_bound():
    a = _runs([1.0, 1.03, 0.97, 1.0, 1.0, 0.97, 1.03], [30] * 7)
    row = compare_sets(a, None, METRICS)[0]
    assert row["ok"] and not row["steady"]
