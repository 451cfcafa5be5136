"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import phase_of  # noqa: E402
from stats import (  # noqa: E402
    aggregate_stages,
    batch_latencies,
    check_bounds,
    comparable,
    parse_sql_metric,
    percentile,
    query_latency,
    source_lag,
    spread,
    steal_share,
    tail_pct,
    worst_steal_share,
)


def test_tail_pct_keeps_ten_samples_beyond():
    assert tail_pct(10) is None
    assert tail_pct(20) == 50
    assert tail_pct(100) == 90
    assert tail_pct(1000) == 99
    for n in (11, 17, 40, 333, 5000):
        p = tail_pct(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_query_latency_is_per_query_median():
    typical, slowest = query_latency({"a": [1.0, 9.0, 1.0], "b": [4.0, 4.0], "c": []})
    assert typical == pytest.approx(2.0)  # geometric mean of the medians 1 and 4
    assert slowest == 4.0
    # pooled, the median would move from b to a as one more sample of a lands
    assert query_latency({"a": [1.0, 1.0, 1.0], "b": [4.0, 4.0]}) == query_latency(
        {"a": [1.0, 1.0], "b": [4.0, 4.0]})
    with pytest.raises(ValueError):
        query_latency({"a": []})


def test_latency_counts_from_due_time_per_row():
    s = 1_000_000_000
    slices = [(2, 0), (2, s // 2), (3, s)]
    batches = [(2, s), (5, 3 * s)]  # the second batch takes two slices
    lat = batch_latencies(batches, slices)
    assert lat == [1.0, 1.0, 2.5, 2.5, 2.0, 2.0, 2.0]
    assert source_lag(batches, slices) == [2, 4, 5]


def test_latency_rejects_inconsistent_batches():
    s = 1_000_000_000
    with pytest.raises(ValueError):  # a batch splits a slice
        batch_latencies([(1, s), (1, s)], [(2, 0)])
    with pytest.raises(ValueError):  # a slice was never consumed
        batch_latencies([(2, s)], [(2, 0), (2, 0)])
    with pytest.raises(ValueError):  # finished before it was due
        batch_latencies([(2, 0)], [(2, s)])


def test_stage_metrics_sum_by_job_group():
    jobs = [
        {"job_id": 0, "group": "q1:load", "stage_ids": [0]},
        {"job_id": 1, "group": "q1:build", "stage_ids": [1]},
        {"job_id": 2, "group": "q1:exec", "stage_ids": [1, 2]},  # reuses stage 1
        {"job_id": 3, "group": "q1:exec", "stage_ids": [3]},
        {"job_id": 4, "group": None, "stage_ids": [4]},  # a stream micro-batch
    ]
    stage = {"status": "COMPLETE", "executorRunTime": 1000, "executorCpuTime": 5 * 10**8,
             "numCompleteTasks": 4, "inputBytes": 10, "peakExecutionMemory": 7}
    stages = {i: dict(stage) for i in range(5)}
    stages[3] = {"status": "SKIPPED", "executorRunTime": 99}
    stages[4]["peakExecutionMemory"] = 3
    out = aggregate_stages(jobs, stages, phase_of)
    assert out["load"]["jobs"] == 1 and out["load"]["stages"] == 1
    assert out["build"]["executorRunTime"] == 1.0
    assert out["exec"]["jobs"] == 3
    assert out["exec"]["stages"] == 2  # stage 1 counted in build, stage 3 skipped
    assert out["exec"]["executorRunTime"] == 2.0
    assert out["exec"]["executorCpuTime"] == 1.0
    assert out["exec"]["numCompleteTasks"] == 8
    assert out["exec"]["peakExecutionMemory"] == 7  # max, not sum


def test_phase_of_job_groups():
    assert phase_of("q_tpch_q1:load") == "load"
    assert phase_of("q_tpch_q1:plan") == "plan"
    assert phase_of(None) == "exec"
    assert phase_of("3f2c-run-id") == "exec"


def test_parse_sql_metric_formats():
    assert parse_sql_metric("100,000") == 100_000
    assert parse_sql_metric("242 ms") == pytest.approx(0.242)
    assert parse_sql_metric("1.5 s") == 1.5
    assert parse_sql_metric("585.8 KiB") == pytest.approx(585.8 * 1024)
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n2.3 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 3.0: task 8))"
    ) == pytest.approx(2.3 * 2**20)
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs")


def test_bounds_check():
    metrics = [
        {"name": "setup_s", "better": "lower", "bound": 0.25},
        {"name": "pass_s", "better": "lower", "bound": 0.1},
        {"name": "rate", "better": "higher", "bound": 0.1},
    ]
    base = {"setup_s": [10, 11, 12, 10, 11], "pass_s": [5.0, 5.1, 5.0, 4.9, 5.0],
            "rate": [100, 101, 99, 100, 100]}
    assert check_bounds(metrics, base, base) == []
    slower = dict(base, pass_s=[5.8, 5.9, 5.7, 5.8, 5.8])
    assert [f.split(":")[0] for f in check_bounds(metrics, base, slower)] == ["pass_s"]
    lower_rate = dict(base, rate=[80, 81, 79, 80, 80])
    assert [f.split(":")[0] for f in check_bounds(metrics, base, lower_rate)] == ["rate"]
    noisy_setup = dict(base, setup_s=[5, 11, 20, 11, 11])  # setup spread is not bounded
    assert check_bounds(metrics, base, noisy_setup) == []
    noisy = dict(base, pass_s=[4.0, 5.0, 6.0, 5.0, 4.5])
    assert any("spread" in f for f in check_bounds(metrics, base, noisy))
    assert check_bounds(metrics, base, {"setup_s": [1]}) != []


def test_spread_is_iqr_over_median():
    assert spread([1, 1, 1, 1]) == 0
    assert spread([1, 2, 3, 4, 5]) == pytest.approx(3.0 / 3)


def test_comparable_refuses_other_core_counts():
    comparable({"nproc": 4, "spark_graft_cpus": None}, {"nproc": 4, "spark_graft_cpus": None})
    with pytest.raises(ValueError):
        comparable({"nproc": 4, "spark_graft_cpus": None}, {"nproc": 8, "spark_graft_cpus": None})
    with pytest.raises(ValueError):
        comparable({"nproc": 4, "spark_graft_cpus": "4"}, {"nproc": 4, "spark_graft_cpus": "2"})


def test_steal_share_of_wanted_cpu_time():
    assert steal_share((100, 1000), (110, 1090)) == pytest.approx(0.1)
    assert steal_share((5, 5), (5, 5)) == 0.0
    assert steal_share((0, 0), (0, 50)) == 0.0


def test_worst_steal_share_takes_the_most_stolen_vcpu():
    before = [(100, 1000), (0, 0), (50, 500)]
    after = [(110, 1090), (0, 100), (90, 560)]
    assert worst_steal_share(before, after) == pytest.approx(0.4)
    assert worst_steal_share([], []) == 0.0
