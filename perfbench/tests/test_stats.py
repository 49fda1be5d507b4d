import pytest

from stats import tail_percentile


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    pct, value = tail_percentile(samples)
    ranked = sorted(samples)
    rank = ranked.index(value) + 1
    assert n - rank >= 10  # ten samples lie beyond the reported one
    assert n - (rank + 1) < 10  # the next rank up would leave fewer
    assert pct == pytest.approx(100.0 * rank / n)


def test_tail_at_100_samples_is_p90():
    pct, value = tail_percentile([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail_percentile([1.0] * n) is None
