"""Tests for the benchmark's statistics helpers.

Run: python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_p90_needs_ten_samples_above_it():
    assert stats.percentile(list(range(99)), 0.9) is None
    samples = list(range(1, 101))          # 1..100
    p90 = stats.percentile(samples, 0.9)
    assert p90 == 90
    assert sum(s > p90 for s in samples) == 10


def test_percentile_ignores_input_order():
    samples = [float(x) for x in range(200, 0, -1)]
    assert stats.percentile(samples, 0.9) == 180.0
    assert stats.percentile(samples, 0.5) == 100.0


def test_median_of_small_samples():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_error_ratio_counts_failed_and_wrong():
    assert stats.error_ratio(10, 0, 0) == 0.0
    assert stats.error_ratio(10, 1, 2) == 0.3
    assert stats.error_ratio(4, 4, 0) == 1.0


@pytest.mark.parametrize("attempted,failed,wrong",
                         [(0, 0, 0), (3, 2, 2), (3, -1, 0)])
def test_error_ratio_rejects_bad_counts(attempted, failed, wrong):
    with pytest.raises(ValueError):
        stats.error_ratio(attempted, failed, wrong)


def test_stat_cpu_ticks_sum_user_system_and_children():
    # comm holds a space and a parenthesis; fields 14..17 are 7, 5, 3, 1
    line = ("4242 (java (x) y) S 1 4242 4242 0 -1 4194560 100 0 0 0 "
            "7 5 3 1 20 0 40 0 123 456 789")
    assert stats.parse_stat_cpu_ticks(line) == 16


def test_vmhwm_parse():
    text = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  2048 kB\nVmRSS:\t 1 kB\n"
    assert stats.parse_vmhwm_kb(text) == 2048
    # a zombie child of the JVM has no memory lines
    assert stats.parse_vmhwm_kb("Name:\tsh\nState:\tZ (zombie)\n") == 0


def test_cpu_and_rss_sum_driver_and_jvm():
    assert stats.cpu_ms_per_op(0.5, 1.5, 4) == 500.0
    assert stats.peak_rss_mb(1024, 3072) == 4.0
    with pytest.raises(ValueError):
        stats.cpu_ms_per_op(1.0, 1.0, 0)


def test_process_readers_on_this_process():
    pid = os.getpid()
    assert pid in stats.process_tree(pid)
    assert stats.tree_cpu_seconds(pid) >= 0.0
    assert stats.tree_peak_rss_kb(pid) > 0
