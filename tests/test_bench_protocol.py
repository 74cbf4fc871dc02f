"""Unit tests for bench.py's timing protocol (no Spark: stub run
callables, a stub session and a fake clock). Every key gets the
same fixed protocol — RUNS noop-sink runs, cache cleared after each,
lower median recorded with every run — except SESSION_MEMO_KEYS, whose
repeats would hit a warmed session memo and price its setup at zero.
"""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

import bench


@pytest.fixture
def stub_spark():
    cleared = []
    return SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: cleared.append(1)), cleared=cleared
    )


@pytest.fixture
def takes(monkeypatch):
    """takes(*secs) -> a stub run callable whose n-th call lasts secs[n]
    on a fake perf_counter; bench._force is a no-op, so the callable's
    return value is never written."""
    now = [0.0]
    monkeypatch.setattr(bench, "perf_counter", lambda: now[0])
    monkeypatch.setattr(bench, "_force", lambda df: 0)

    def make(*secs):
        durations = iter(secs)

        def run():
            now[0] += next(durations)

        return run

    return make


def test_time_key_makes_runs_calls(stub_spark, takes):
    calls = []
    run = takes(*[1.0] * bench.RUNS)
    bench.time_key(stub_spark, "any_key", lambda: calls.append(run()), {})
    assert len(calls) == bench.RUNS == 3
    assert len(stub_spark.cleared) == bench.RUNS  # cache cleared after each run


def test_time_key_memo_key_runs_once(stub_spark, takes):
    runs = {}
    memo_key = sorted(bench.SESSION_MEMO_KEYS)[0]
    # a second call would raise StopIteration
    assert bench.time_key(stub_spark, memo_key, takes(9.0), runs) == 9.0
    assert runs == {memo_key: [9.0]}


def test_time_key_returns_lower_median_and_records_every_run(stub_spark, takes):
    runs = {}
    assert bench.time_key(stub_spark, "k", takes(46.0, 1.3, 1.4), runs) == 1.4
    assert runs == {"k": [46.0, 1.3, 1.4]}
    assert min(runs["k"]) == 1.3


def test_report_stat_lower_median():
    assert bench.report_stat([5.0]) == 5.0
    # 2-run [normal, spike]: report the normal one, not the spike
    assert bench.report_stat([9.6, 3.7]) == 3.7
    # 3 runs: true median
    assert bench.report_stat([0.4, 0.5, 0.45]) == 0.45


def test_sweep_failing_key_lands_in_failures(stub_spark, takes):
    run = takes(*[0.5] * (2 * bench.RUNS))

    def boom(spark, sf_dir):
        raise ValueError("bad plan")

    def ok(spark, sf_dir):
        run()

    full = bench.sweep(stub_spark, {"b_ok": ok, "a_bad": boom, "c_ok": ok}, "sf")
    assert full["failures"] == {"a_bad": "ValueError: bad plan"}
    assert full["queries"] == {"b_ok": 0.5, "c_ok": 0.5}
    assert set(full["runs"]) == {"b_ok", "c_ok"}


def test_result_line_carries_totals_only():
    full = {
        "metric": "total_bench_sec",
        "value": 12.5,
        "unit": "sec",
        "sf": 0.01,
        "n_queries": 2,
        "queries": {"a": 2.5, "b": 10.0},
        "runs": {"a": [2.5, 2.6, 2.4], "b": [10.0, 11.0, 9.0]},
        "failures": {"c": "ValueError: bad plan"},
    }
    line = bench.result_line(full)
    assert "\n" not in line
    assert json.loads(line) == {
        "metric": "total_bench_sec",
        "value": 12.5,
        "unit": "sec",
        "sf": 0.01,
        "n_queries": 2,
        "n_failures": 1,
        "full": "BENCH_FULL.json",
    }
    assert json.loads(bench.result_line({**full, "failures": {}}))["n_failures"] == 0


def test_cpus_defaults_to_usable_cores(monkeypatch):
    import os

    from machine_learning_algorithm_sparkml__spark.session import _cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "not-a-number")
    assert _cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3


def test_bench_diff_classification():
    from tools.bench_diff import diff

    old = {"queries": {"a": 1.0, "b": 2.0, "c": 0.2, "d": 2.0, "e": 0.2, "gone": 1.0}}
    new = {"queries": {"a": 1.6, "b": 1.0, "c": 1.0, "d": 0.0, "e": 0.4, "new": 3.0}}
    d = diff(old, new, factor=1.5, min_sec=0.5)
    # a: plain 1.6x regression; c: old in the noise band but NEW time
    # clears factor * min_sec -> still flagged (the 0.45s->60s hole)
    assert {r[0] for r in d["regressed"]} == {"a", "c"}
    # d: improved to a rounded 0.0 -> flagged, no ZeroDivisionError
    assert {r[0] for r in d["improved"]} == {"b", "d"}
    # e: 0.2 -> 0.4 stays inside the noise band, not flagged
    assert d["added"] == ["new"] and d["removed"] == ["gone"]


def test_session_memo_keys_exist_and_share_one_fit():
    """SESSION_MEMO_KEYS must stay in sync with the registry and with
    the set of keys that actually consume workload.ml._rf_predictions
    — a rename on either side would silently restore the
    unpriced-fit / double-fit pricing bug."""
    from machine_learning_algorithm_sparkml__spark import workload

    qs = workload.all_queries()
    missing = bench.SESSION_MEMO_KEYS - set(qs)
    assert not missing, f"SESSION_MEMO_KEYS not in registry: {missing}"
    import inspect

    from machine_learning_algorithm_sparkml__spark.workload import ml as ml_workload
    from machine_learning_algorithm_sparkml__spark.workload import scale as scale_workload

    consumers = {
        name[2:]
        for name, fn in vars(ml_workload).items()
        if name.startswith("q_") and "_rf_predictions(" in inspect.getsource(fn)
    }
    consumers |= {
        name[2:]
        for name, fn in vars(scale_workload).items()
        if name.startswith("q_") and "_session_bucketed_pair(" in inspect.getsource(fn)
    }
    assert consumers == bench.SESSION_MEMO_KEYS, (
        f"memoized consumers {consumers} != SESSION_MEMO_KEYS "
        f"{bench.SESSION_MEMO_KEYS}"
    )
