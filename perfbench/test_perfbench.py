"""Tests of the benchmark itself: input generation, the event-log
ledger and its per-layer fold, and (slow) one traced run of the
engine workload.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import datagen
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
MINI_LOG = os.path.join(HERE, "testdata")
RUN_ID = "0b1c2d3e-0000-4000-8000-000000000001"


def test_inputs_are_a_function_of_the_seed():
    a, b, c = (datagen.tables(s, datagen.SMALL) for s in (5, 5, 6))
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_engine_inputs_have_the_reference_row_counts():
    t = datagen.tables(5, datagen.SF0_1)
    assert (t["lineitem"].num_rows, t["orders"].num_rows, t["customer"].num_rows) == (600_000, 150_000, 15_000)


def test_trace_overhead_divides_only_by_runs_with_its_key(tmp_path):
    args = SimpleNamespace(workload="engine_mix", seconds=12.0)
    key = run._untraced_key(args)
    assert key != run._untraced_key(SimpleNamespace(workload="engine_mix", seconds=1.0))
    assert key != run._untraced_key(SimpleNamespace(workload="ml_cv_training", seconds=12.0))
    path = tmp_path / "untraced.jsonl"
    assert run._untraced(str(path), key) == []
    path.write_text("\n".join(json.dumps(r) for r in [
        {"key": key, "pass_s": 7.5},
        {"key": "engine_mix/12.0/other-code", "pass_s": 4.0},
        {"workload": "engine_mix", "pass_s": 3.0},
        {"key": key, "pass_s": 8.0},
    ]) + "\n")
    assert run._untraced(str(path), key) == [7.5, 8.0]


def test_event_log_files_reads_rolling_parts_in_order():
    files = tracing.event_log_files(MINI_LOG)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]


def test_ledger_folds_jobs_stages_and_tasks_by_job_group():
    ledger = tracing.parse_event_log(tracing.event_log_files(MINI_LOG))
    one = ledger["pb-1"]
    assert (one.jobs, one.stages, one.tasks, one.failed_tasks) == (1, 2, 3, 1)
    assert (one.task_run_ms, one.task_cpu_ms, one.gc_ms) == (23, 12.0, 2)
    assert (one.shuffle_write_bytes, one.shuffle_read_bytes, one.read_bytes, one.spill_bytes) == (100, 100, 5000, 64)
    # job 1 reuses stage 1 without running it: the stage stays with pb-1
    two = ledger["pb-2"]
    assert (two.jobs, two.stages, two.tasks, two.write_bytes) == (1, 1, 1, 777)
    stream = ledger[RUN_ID]
    assert (stream.jobs, stream.tasks, stream.task_run_ms, stream.read_bytes) == (1, 2, 40, 300)
    assert ledger[""].jobs == 1


def _spans() -> tracing.Spans:
    """Pass 1 runs a build with a streaming run inside it, then a
    force; the spans' ids are the job groups of the miniature log."""
    spans = tracing.Spans()
    spans.spans = [
        tracing.Span("pb-0", "pass 1", None, 1, "", "", "pass", 100.0, 110.0),
        tracing.Span("pb-1", "win build", "pb-0", 1, "win", "streaming", "build", 100.0, 104.0),
        tracing.Span("pb-2", "win force", "pb-0", 1, "win", "streaming", "force", 104.0, 105.0),
        tracing.Span("pb-3", "q build", "pb-0", 1, "q", "operators", "build", 105.0, 106.0),
        tracing.Span("pb-4", "q force", "pb-0", 1, "q", "operators", "force", 106.0, 110.0),
    ]
    return spans


def _recorder():
    return SimpleNamespace(
        started={RUN_ID: 101.5},
        batches=[
            {"run_id": RUN_ID, "input_rows": 300, "trigger_ms": 1500},
            {"run_id": RUN_ID, "input_rows": 0, "trigger_ms": 500},
        ],
    )


def test_per_layer_attributes_streaming_runs_to_the_span_that_started_them():
    ledger = tracing.parse_event_log(tracing.event_log_files(MINI_LOG))
    m = {k: v for k, (v, _) in tracing.per_layer(
        _spans(), _recorder(), ledger, first_timed=1, cores=4, session_start_s=3.0
    ).items()}
    assert m["streaming.jobs"] == 1
    assert m["streaming.batches"] == 2
    assert m["streaming.input_rows"] == 300
    assert m["streaming.empty_batch_ratio"] == 0.5
    assert m["streaming.run_s"] == 4.0
    assert m["streaming.startstop_s"] == 4.0 - 2.0
    # build spans hold pb-1's job and the streaming run's job
    assert m["workload.build_jobs"] == 2
    assert m["workload.build_s"] == 5.0
    assert m["operators.execute_s"] == 5.0
    assert m["operators.jobs"] == 3
    assert m["operators.task_run_ms"] == 23 + 10 + 40
    assert m["operators.busy_share"] == 73 / (10.0 * 1000 * 4)
    assert m["sources.read_bytes"] == 5300
    assert m["spark.failed_tasks"] == 1
    assert m["ml.jobs"] == 0 and m["ml.busy_share"] == 0.0


def test_ops_without_jobs_flags_an_op_that_ran_no_spark_work():
    ledger = tracing.parse_event_log(tracing.event_log_files(MINI_LOG))
    # "win" ran jobs in both its spans; no job group of "q" is in the log
    assert tracing.ops_without_jobs(_spans(), _recorder(), ledger, 1) == [(1, "q")]


def test_traced_run_checks_outputs_and_every_timed_op_runs_spark_jobs():
    """One short traced run of the engine workload, from the repository
    root: every output check passes and every op of every timed pass
    launched at least one Spark job (no memo answered it)."""
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "engine_mix", "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    record = json.loads(out[-2].split(" ", 1)[1])
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert result["metrics"]["spark.jobs_per_pass"]["value"] > 0
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert sorted(result["metrics"]) == sorted(m["name"] for m in bench["per_layer"])
    assert sorted(record["end_to_end"]) == sorted(m["name"] for m in bench["end_to_end"])
