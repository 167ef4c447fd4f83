import pytest

from perfbench import stats


def test_tail_is_highest_rank_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]  # 1..30, shuffled order must not matter
    value, pct, n = stats.tail(values[::-1])
    assert (value, n) == (20.0, 30)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_twenty_one_samples_is_just_above_the_median():
    value, pct, n = stats.tail([float(v) for v in range(21)])
    assert (value, n) == (10.0, 21)
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_below_the_median_falls_back_to_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(v) for v in range(20)]) == (19.0, 100.0, 20)
    with pytest.raises(ValueError):
        stats.tail([])


def test_ratio_bases():
    assert stats.ratio(30, 3) == 10.0
    assert stats.ratio(5, 0) == 0.0  # a layer that did no work


def test_prefix_self_times_subtract_the_previous_prefix():
    assert stats.self_times([1.0, 1.5, 1.5, 4.0]) == [1.0, 0.5, 0.0, 2.5]
    # noise can make a layer's self time negative; it is kept as measured
    assert stats.self_times([2.0, 1.9]) == pytest.approx([2.0, -0.1])



def test_steal_share_is_the_steal_field_over_all_cpu_time():
    from perfbench import run

    start = [100, 0, 10, 500, 5, 0, 1, 20, 0, 0]
    end = [160, 0, 20, 520, 5, 0, 1, 30, 0, 0]  # 100 ticks in all, 10 of them stolen
    assert run.steal_share(start, end) == pytest.approx(0.1)
