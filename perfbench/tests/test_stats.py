import math

import pytest

from stats import clipped, nearest_rank, tail_pct, union_length


def test_nearest_rank_returns_a_measured_sample():
    s = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(s, 50) == 3.0
    assert nearest_rank(s, 20) == 1.0
    assert nearest_rank(s, 21) == 2.0
    assert nearest_rank(s, 100) == 5.0


def test_nearest_rank_rejects_bad_input():
    with pytest.raises(ValueError):
        nearest_rank([], 50)
    with pytest.raises(ValueError):
        nearest_rank([1.0], 0)


@pytest.mark.parametrize("n,pct", [
    (19, None),   # even the median leaves only 9 above
    (20, 50),
    (25, 60),
    (100, 90),
    (199, 90),
    (40, 75),
])
def test_tail_pct_keeps_ten_samples_beyond(n, pct):
    got = tail_pct(n)
    assert got == pct
    if got is not None:
        assert n - math.ceil(got / 100 * n) >= 10
        if got < 90:  # one percentile higher would leave fewer than ten
            assert n - math.ceil((got + 1) / 100 * n) < 10


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_clipped_cuts_to_window():
    assert clipped([(0, 5), (6, 9), (10, 12)], 2, 7) == [(2, 5), (6, 7)]
