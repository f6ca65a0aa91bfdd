import statistics

from perfbench import host


def test_p90_reported_with_ten_samples_beyond_it():
    values = [float(v) for v in range(100)]
    p90 = host.p90_if_supported(values)
    assert p90 is not None
    assert sum(v > p90 for v in values) == 10


def test_p90_omitted_with_fewer_than_ten_samples_beyond_it():
    assert host.p90_if_supported([float(v) for v in range(60)]) is None
    assert host.p90_if_supported([1.0]) is None


def test_steal_pct():
    assert host.steal_pct((10, 1000), (20, 2000)) == 1.0
    assert host.steal_pct((10, 1000), (10, 1000)) == 0.0


def test_hd_median():
    assert host.hd_median([3.0]) == 3.0
    assert abs(host.hd_median([1.0, 2.0]) - 1.5) < 1e-9
    assert abs(host.hd_median([1.0, 2.0, 3.0, 4.0, 5.0]) - 3.0) < 1e-9  # symmetric
    # one outlier moves it far less than it moves the mean
    values = [1.0] * 9 + [100.0]
    assert host.hd_median(values) < 2.0


def test_hd_median_moves_smoothly_across_a_gap():
    before = [0.45] * 9 + [0.60] * 9
    after = [0.45] * 8 + [0.60] * 10  # noise moved one query across the gap
    plain_jump = statistics.median(after) - statistics.median(before)
    assert host.hd_median(after) - host.hd_median(before) < plain_jump / 2
