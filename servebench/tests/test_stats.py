import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import TooFewSamples, min_samples, percentile, summary  # noqa: E402


def test_min_samples_leaves_ten_beyond():
    assert min_samples(50) == 20
    assert min_samples(90) == 100
    assert min_samples(99) == 1000


def test_percentile_refuses_too_few_samples():
    with pytest.raises(TooFewSamples):
        percentile(range(19), 50)
    with pytest.raises(TooFewSamples):
        percentile(range(99), 90)


def test_percentile_at_the_threshold_has_ten_beyond():
    xs = list(range(1, 101))
    p90 = percentile(xs, 90)
    assert p90 == 90
    assert sum(x > p90 for x in xs) == 10
    p50 = percentile(range(1, 21), 50)
    assert p50 == 10 and sum(x > p50 for x in range(1, 21)) == 10


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert percentile(xs, 50) == percentile(sorted(xs), 50) == 3.0


def test_summary_quartiles_and_spread():
    s = summary([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
    assert s["median"] == 14.5
    assert s["q1"] < s["median"] < s["q3"]
    assert s["spread"] == pytest.approx((s["q3"] - s["q1"]) / 14.5)
