import math

import pytest

from perfbench.stats import error_rate, summarize, tail_percentile


def beyond(samples, value):
    return sum(x > value for x in samples)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail_percentile([float(i) for i in range(n)]) is None


def test_tail_of_1000_is_p99():
    xs = [float(i) for i in range(1, 1001)]
    t = tail_percentile(xs)
    assert t == {"pct": 99.0, "value": 990.0, "n": 1000}


def test_tail_of_eleven_is_the_minimum():
    xs = [float(i) for i in range(11)]
    t = tail_percentile(xs)
    assert t["pct"] == 9.0 and t["value"] == 0.0 and beyond(xs, t["value"]) == 10


@pytest.mark.parametrize("n", list(range(11, 400)) + [999, 1001, 2500])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)][::-1]  # order must not matter
    t = tail_percentile(xs)
    assert beyond(xs, t["value"]) >= 10
    # one tenth of a percent higher would leave fewer than ten beyond
    up = t["pct"] + 0.1
    rank_up = math.ceil(up / 100.0 * n - 1e-9)
    assert up > 100.0 * (n - 10) / n or n - rank_up < 10


def test_summarize():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": None}
    assert summarize([]) == {"n": 0, "p50": None, "tail": None}


def test_error_rate_counts():
    assert error_rate(200, 0) == 0.0
    assert error_rate(200, 3) == 3 / 200
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(5, 6)
    with pytest.raises(ValueError):
        error_rate(5, -1)
