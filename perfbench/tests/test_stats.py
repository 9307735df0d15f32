import pytest

from perfbench.stats import median, percentile, tail, union_length


def test_percentile_refuses_fewer_than_ten_beyond():
    xs = list(range(199))  # p95 rank 190 leaves 9 beyond
    with pytest.raises(ValueError, match="9 beyond"):
        percentile(xs, 95)


def test_percentile_accepts_exactly_ten_beyond():
    xs = [float(x) for x in range(200, 0, -1)]  # unsorted input
    assert percentile(xs, 95) == 190.0  # nearest rank 190 of 1..200


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        percentile([1.0] * 100, 100)


def test_tail_picks_highest_supported():
    assert tail([1.0] * 100)[0] == "p90"
    assert tail([1.0] * 1000)[0] == "p99"
    assert tail([1.0] * 30) is None


def test_median_and_union_length():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0
