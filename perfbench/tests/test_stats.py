import statistics

import pytest

from perfbench.stats import percentile, summary, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 90.0) == pytest.approx(q[8])
    assert percentile(xs, 50.0) == statistics.median(xs)
    assert percentile([3.0], 90.0) == 3.0


def test_summary_reports_tail_only_when_supported():
    assert "tail" not in summary([1.0] * 99)
    s = summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["tail_pct"] == 90.0 and s["tail"] == pytest.approx(89.1)
