from perfbench.stats import median, tail_percentile


def test_tail_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 10) is None
    t = tail_percentile([float(i) for i in range(11)])
    assert t == {"percentile": 100.0 / 11, "value": 0.0, "samples": 11, "beyond": 10}


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(100, 0, -1)]  # order must not matter
    t = tail_percentile(samples)
    assert t["percentile"] == 90.0
    assert t["value"] == 90.0
    assert sum(1 for s in samples if s > t["value"]) == 10
    t = tail_percentile([float(i) for i in range(20)])
    assert (t["percentile"], t["value"]) == (50.0, 9.0)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) == 0.0
