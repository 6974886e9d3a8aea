from stats import median, percentile


def test_p90_is_refused_with_fewer_than_ten_samples_beyond_it():
    assert percentile(range(1, 100), 0.9) is None  # 9 samples beyond p90
    assert percentile(range(1, 101), 0.9) == 90.0  # 10 beyond


def test_median_needs_no_tail_rule_but_percentile_does():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert percentile([1.0, 2.0, 3.0], 0.5) is None
