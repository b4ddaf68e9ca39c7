"""The tail rule: the highest percentile with at least ten samples beyond it."""

from perfbench.stats import tail


def test_tail_leaves_exactly_ten_samples_beyond():
    values = list(range(1, 41))  # 40 samples
    pct, v = tail(values)
    assert pct == 75.0
    assert v == 30 and sum(1 for x in values if x > v) == 10


def test_tail_with_100_samples_is_p90():
    pct, v = tail([float(i) for i in range(100)])
    assert (pct, v) == (90.0, 89.0)


def test_tail_falls_back_to_the_maximum_below_twenty_samples():
    assert tail([5.0, 1.0, 3.0]) == (100.0, 5.0)
    assert tail(list(range(19)))[0] == 100.0
    assert tail(list(range(20))) == (50.0, 9.0)

