from stats import median, percentile, tail


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 99) == 3.0


def test_tail_needs_ten_samples_beyond():
    # 40 samples: p75 leaves 10 beyond, p90 only 4
    t = tail([float(i) for i in range(1, 41)])
    assert t == {"p": 75.0, "value": 30.0, "n": 40, "beyond": 10}
    # 39 samples: p75's rank is 30, leaving 9: no tail at all
    assert tail([float(i) for i in range(1, 40)]) is None


def test_tail_picks_highest_qualifying_percentile():
    xs = [float(i) for i in range(1, 1001)]
    t = tail(xs)
    assert t["p"] == 99.0  # p99.9 leaves 1 beyond, p99 leaves 10
    assert t["beyond"] == 10
    assert t["value"] == 990.0
    t = tail([float(i) for i in range(1, 101)])
    assert (t["p"], t["beyond"], t["value"]) == (90.0, 10, 90.0)


def test_no_tail_from_a_handful_of_samples():
    assert tail([1.0, 2.0, 3.0]) is None
    assert tail([float(i) for i in range(19)]) is None  # p75 leaves 4, too few


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
