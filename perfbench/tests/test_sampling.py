import statistics

import pytest

from sampling import covered_ms, driver_gap_ms, summary, tail


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = tail(values)
    assert pct == 90.0
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_rank_for_uneven_counts():
    values = [float(i) for i in range(1, 31)]  # 30 samples: rank 20
    pct, value = tail(values)
    assert value == 20.0
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(v > value for v in values) == 10


def test_tail_falls_back_to_median_with_few_samples():
    values = [3.0, 1.0, 2.0, 5.0, 4.0, 6.0]
    assert tail(values) == (50.0, statistics.median(values))
    # 20 samples: rank 10 is exactly the lower median
    values = [float(i) for i in range(20)]
    pct, value = tail(values)
    assert pct == 50.0 and value == 9.0


def test_summary_quartiles_and_count():
    s = summary([4.0, 1.0, 3.0, 2.0, 5.0])
    q1, _, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0, 5.0], n=4)
    assert s == {"median": 3.0, "q1": q1, "q3": q3, "n": 5}
    assert summary([7.0]) == {"median": 7.0, "q1": 7.0, "q3": 7.0, "n": 1}
    assert summary([])["n"] == 0


def test_driver_gap_counts_time_no_job_covers():
    window = (1000.0, 2000.0)
    # overlapping jobs merge; a job sticking out of the window is clipped;
    # a job wholly outside the window is ignored
    jobs = [(1100.0, 1300.0), (1200.0, 1400.0), (1900.0, 2500.0), (3000.0, 3100.0)]
    assert covered_ms(window, jobs) == 300.0 + 100.0
    assert driver_gap_ms(window, jobs) == 1000.0 - 400.0
    assert driver_gap_ms(window, []) == 1000.0
    assert driver_gap_ms(window, [(900.0, 2100.0)]) == 0.0
