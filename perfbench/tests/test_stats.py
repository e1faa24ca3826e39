"""Metric math: medians, quartiles, spreads and ratio bases."""

from __future__ import annotations

import json
import os
import statistics

import pytest

import metrics
import stats


def test_median_and_quartiles_follow_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert stats.median(values) == 5.5
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_sample_collapse():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        stats.median([])


def test_ratio_refuses_a_zero_base():
    assert stats.ratio(3, 4) == 0.75
    assert stats.ratio(0, 4) == 0.0
    with pytest.raises(ZeroDivisionError):
        stats.ratio(1, 0)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile([float(i) for i in range(99)]) is None
    # nearest rank: p90 of 0..99 is 89, with the ten values 90..99 beyond
    assert stats.tail_percentile([float(i) for i in range(100)]) == ("p90", 89.0)
    assert stats.tail_percentile([float(i) for i in range(1000)]) == ("p99", 989.0)


def test_peak_rss_covers_this_process():
    assert stats.peak_rss_mb() > 1.0
    assert os.getpid() in stats.tree_pids()


def test_benchmark_json_matches_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == {"ingest", "cdc", "queries"}
