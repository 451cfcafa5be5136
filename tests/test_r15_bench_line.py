"""r15: the bench's compact stdout line must keep the judge-graded
columns inside the driver's 2000-char tail window (r14 verdict task 1 —
the r14 line shed `warm_norm` and the whole per-query scaling record,
leaving PERF_r14.per_query empty). Pure-Python: no SparkSession."""

import importlib.util
import json
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(__file__), "..", "bench.py")


@pytest.fixture(scope="module")
def fit_line():
    spec = importlib.util.spec_from_file_location("bench_for_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_for_test"] = mod
    spec.loader.exec_module(mod)
    return mod._fit_line


def _payload(n_queries=368, cpus=32, scaling=False):
    queries = {f"q_{i:03d}": 0.5 + (i % 97) * 0.11 for i in range(n_queries)}
    warm = {k: v * 0.8 for k, v in list(queries.items()) if v > 3.0}
    out = {
        "metric": "total_query_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": cpus,
        "n_queries": n_queries,
        "streaming": {
            "input_rows": 100000, "wall_sec": 7.0, "rows_per_sec": 14285.7,
            "n_batches": 6, "batch_sec": [2.0, 1.0, 1.0, 1.0, 1.0, 1.0],
            "steady_rows_per_sec": 20000.0, "best_batch_rows_per_sec": 21000.0,
        },
        "warm": warm,
        "warm_norm": {k: v * 0.95 for k, v in warm.items()},
        "warm_at": {k: 10.0 for k in warm},
        "query_at": {k: 9.0 for k in queries},
        "panel_load": [{"at_sec": 0.0, "factor": 1.0}],
        "cadence_bound": [],
        "warm_inverted": [],
        "plan_sha": {k: "ab" * 20 for k in queries},
        "codegen": {k: {"cold": 40, "warm": 0} for k in queries},
        "calibration": {
            "start": {"calib_scan_agg": {"reps": [0.1] * 3, "min": 0.1}},
            "end": {"calib_scan_agg": {"reps": [0.12] * 3, "min": 0.12}},
            "end_over_start": 1.2,
            "drifted": False,
        },
        "host": {"boot_id": "x", "cpus": 32},
    }
    if scaling:
        out["scaling"] = {
            "cpus": cpus, "cpus_prev": 32,
            "per_query": {k: round(1.0 + (i % 50) / 10.0, 2)
                          for i, k in enumerate(queries)},
        }
    return out


def test_line_fits_and_keeps_graded_columns(fit_line):
    line = fit_line(_payload(), limit=1900)
    assert len(line) <= 1900
    d = json.loads(line)
    # contract keys (driver parses these since round 1)
    assert d["metric"] == "total_query_sec"
    assert "value" in d and "sf" in d and "queries" in d
    # r14 task 1: warm_norm is the graded column — it must survive,
    # capped to the slowest rows, slowest first
    wn = d["warm_norm"]
    assert 0 < len(wn) <= 40
    vals = list(wn.values())
    assert vals == sorted(vals, reverse=True)
    # streaming rates must reach the record (r14 task 5)
    assert d["streaming"]["best_batch_rows_per_sec"] > 0
    # per-query compile counts live in BENCH_LOCAL.json only
    assert "codegen" not in d


def test_low_core_line_carries_scaling(fit_line):
    line = fit_line(_payload(cpus=8, scaling=True), limit=1900)
    assert len(line) <= 1900
    d = json.loads(line)
    assert d["scaling"]["cpus"] == 8 and d["scaling"]["cpus_prev"] == 32
    assert 0 < len(d["scaling"]["per_query"]) <= 30
    assert len(d["warm_norm"]) > 0  # scaling must not evict warm_norm


def test_failure_storm_cannot_evict_graded_columns(fit_line):
    out = _payload(cpus=8, scaling=True)
    out["failures"] = {f"q_f{i}": "SomeError: " + "x" * 80 for i in range(60)}
    out["warm_inverted"] = [f"q_{i:03d}" for i in range(50)]
    line = fit_line(out, limit=1900)
    assert len(line) <= 1900
    d = json.loads(line)
    assert len(d["warm_norm"]) > 0
    assert len(d["scaling"]["per_query"]) > 0
    assert len(d.get("warm_inverted", [])) <= 12


def test_tiny_limit_still_parses(fit_line):
    line = fit_line(_payload(scaling=True), limit=300)
    assert len(line) <= 300
    d = json.loads(line)
    assert d["metric"] == "total_query_sec"
