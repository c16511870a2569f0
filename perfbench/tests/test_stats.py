import statistics

import pytest

from perfbench.stats import (Outcomes, beyond, percentile, quartile_spread,
                             summarize, tail_percentile)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, expected", [
    (19, None),     # p50 has 9 samples beyond it
    (20, 50),
    (39, 50),       # p75 has 9 beyond
    (40, 75),
    (99, 75),       # p90 has 9 beyond
    (100, 90),
    (199, 90),
    (200, 95),
    (1000, 99),     # p99.9 has 1 beyond
    (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert beyond(n, expected) >= 10


def test_summarize_reports_median_tail_and_count():
    values = [float(v) for v in range(100)]
    s = summarize(values)
    assert s == {"n": 100, "p50": statistics.median(values), "tail_p": 90,
                 "tail": 89.0}
    assert "tail" not in summarize([1.0] * 10)


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    values = [9.0, 10.0, 10.0, 10.0, 11.0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / med)


def test_error_ratio_counts_each_failure_once():
    o = Outcomes()
    assert o.error_ratio == 0.0
    for ok in (True, True, False, True):
        o.record("q", ok, "" if ok else "wrong output")
    assert (o.attempted, o.failed) == (4, 1)
    assert o.error_ratio == 0.25
    assert o.failures == ["q: wrong output"]
