import numpy as np
import pytest

from stats import beyond, latency_summary, median, percentile


@pytest.mark.parametrize("n", [1, 2, 5, 10, 37, 100])
@pytest.mark.parametrize("q", [0, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy(n, q):
    xs = list(np.random.default_rng(n).random(n))
    assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_ignores_order():
    assert percentile([3, 1, 2], 50) == median([1, 2, 3]) == 2


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


@pytest.mark.parametrize("n,q,expected", [(100, 90, 10), (10, 90, 1), (101, 90, 10), (1, 90, 0), (50, 50, 25)])
def test_beyond_counts_tail_samples(n, q, expected):
    assert beyond(n, q) == expected
    xs = list(range(n))
    assert sum(x > percentile(xs, q) for x in xs) == expected


def test_latency_summary_penalises_failures():
    ok = [(0.1 * i, True) for i in range(1, 10)]
    s = latency_summary(ok + [(0.01, False)], penalty=60.0)
    assert s["p50"] == pytest.approx(0.55)
    assert s["p90"] == pytest.approx(0.9 + 0.1 * (60.0 - 0.9))
