import pytest

from layers import tail
from stats import TooFewSamples, hd_median, percentile


def test_p90_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 90) == 90.0  # ranks 91..100 lie beyond
    with pytest.raises(TooFewSamples):
        percentile(values[:99], 90)


def test_percentile_is_order_free_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
    assert percentile(values, 50) == 3.0
    with pytest.raises(ValueError):
        percentile(values, 100)


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 31)]  # 30 samples
    assert tail(values) == 20.0  # p66: rank 20, ten beyond
    with pytest.raises(TooFewSamples):
        tail(values[:19])


def test_hd_median_weights_match_the_beta_cdf():
    # n=3: Beta(2, 2), CDF 3x^2 - 2x^3, weights 7/27, 13/27, 7/27
    assert hd_median([0.0, 0.0, 27.0]) == pytest.approx(7.0, abs=1e-4)
    assert hd_median([4.0, 2.0]) == pytest.approx(3.0)  # n=2: the mean
    assert hd_median([5.0]) == 5.0


def test_hd_median_is_order_free_and_symmetric():
    values = [float(i) for i in range(1, 27)]
    assert hd_median(values) == pytest.approx(13.5)
    assert hd_median(values[::-1]) == pytest.approx(hd_median(values))
    assert hd_median([2.0] * 8) == pytest.approx(2.0)


def test_hd_median_moves_less_than_the_sample_median():
    import statistics

    # eight calls of different kinds; one call crosses its neighbour
    before = [0.9, 1.1, 2.7, 3.0, 3.1, 4.0, 5.9, 6.6]
    after = [0.9, 1.1, 2.7, 3.0, 4.0, 4.0, 5.9, 6.6]
    moved = statistics.median(after) / statistics.median(before) - 1
    assert moved > 0.14
    assert 0 < hd_median(after) / hd_median(before) - 1 < 0.6 * moved
