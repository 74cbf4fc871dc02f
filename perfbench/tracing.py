"""Spans, streaming progress and the Spark event-log ledger.

The benchmark records one span per op phase (build, force, check) from
its own code, around its calls into the engine; it never reaches into
the engine. In a traced run each span runs under its own Spark job
group, so every job the event log records can be traced back to the op
and phase that caused it. Streaming micro-batches run under their
query's run id instead of the caller's job group; a
``StreamingQueryListener`` records each run id with its start time,
which places the run inside the span that started it.

Spans and listener records stay in memory and are folded with the
event log once the session has stopped.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    pass_no: int
    op: str
    layer: str
    phase: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder. With ``spark_context`` set, each span
    also sets a Spark job group named after the span's id."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, *, pass_no: int, op: str = "", layer: str = "", phase: str = "", parent: str | None = None):
        s = Span(f"pb-{len(self.spans)}", name, parent, pass_no, op, layer, phase, time.time())
        self.spans.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            if self._sc is not None and parent:
                self._sc.setJobGroup(parent, "")
            elif self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def containing(self, t: float, phase: str | None = None) -> Span | None:
        """The innermost recorded span whose interval holds time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")) and (phase is None or s.phase == phase):
                if best is None or s.start >= best.start:
                    best = s
        return best


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_recorder():
    """A ``StreamingQueryListener`` that keeps each query run's start
    time and every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.terminated: set[str] = set()
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            with self._lock:
                self.started[str(event.runId)] = _iso_epoch(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.batches.append({
                    "run_id": str(p.runId),
                    "input_rows": int(p.numInputRows),
                    "trigger_ms": int(p.durationMs.get("triggerExecution", 0)),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.runId))

        def drain(self, timeout_s: float = 30.0) -> bool:
            """Wait until every started run has reported termination;
            listener events arrive asynchronously."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self._lock:
                    if set(self.started) <= self.terminated:
                        return True
                time.sleep(0.05)
            return False

    return Recorder()


# --- event log -----------------------------------------------------------------


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    read_bytes: int = 0
    write_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


#: Spark work per job group, folded from an event log.
Ledger = dict[str, Counters]


def event_log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir`` in write order: one plain
    file per application, or the numbered parts of a rolling log."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def parse_event_log(paths: list[str]) -> Ledger:
    """Fold job, stage and task events into counters per job group.

    A stage belongs to the job group it was submitted under, so a
    shuffle stage that a later job reuses (and skips) counts once, for
    the job that ran it."""
    ledger: Ledger = {}
    stage_group: dict[tuple[int, int], str] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    ledger.setdefault(_group(ev), Counters()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stage_group[key] = _group(ev)
                    ledger.setdefault(stage_group[key], Counters()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    _add_task(ledger.setdefault(stage_group.get(key, ""), Counters()), ev)
    return ledger


def _group(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""


def _add_task(c: Counters, ev: dict) -> None:
    c.tasks += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        c.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    c.task_run_ms += m.get("Executor Run Time", 0)
    c.task_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    c.gc_ms += m.get("JVM GC Time", 0)
    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c.read_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c.write_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


# --- per-layer fold -----------------------------------------------------------

ML_OPS = ("mla", "arc", "use")


def _span_counters(spans: Spans, recorder, ledger: Ledger) -> tuple[dict[str, Counters], dict[str, Counters], dict[str, list[str]]]:
    """Counters per span id: everything, and the streaming micro-batch
    share alone. Also each span's streaming run ids."""
    runs: dict[str, list[str]] = {}
    for run_id, started in (recorder.started.items() if recorder else ()):
        s = spans.containing(started, phase="build")
        if s is not None:
            runs.setdefault(s.id, []).append(run_id)
    total: dict[str, Counters] = {}
    streamed: dict[str, Counters] = {}
    for s in spans.spans:
        c = Counters()
        c.add(ledger.get(s.id, Counters()))
        st = Counters()
        for run_id in runs.get(s.id, ()):
            st.add(ledger.get(run_id, Counters()))
        c.add(st)
        total[s.id], streamed[s.id] = c, st
    return total, streamed, runs


def ops_without_jobs(spans: Spans, recorder, ledger: Ledger, first_timed: int) -> list[tuple[int, str]]:
    """(pass, op) for every timed op that ran no Spark job: a memo hit
    instead of work."""
    total, _, _ = _span_counters(spans, recorder, ledger)
    jobs: dict[tuple[int, str], int] = {}
    for s in spans.spans:
        if s.pass_no >= first_timed and s.phase in ("build", "force"):
            jobs[(s.pass_no, s.op)] = jobs.get((s.pass_no, s.op), 0) + total[s.id].jobs
    return sorted(k for k, n in jobs.items() if n == 0)


def per_layer(spans: Spans, recorder, ledger: Ledger, *, first_timed: int, cores: int,
              session_start_s: float) -> dict[str, tuple[float, str]]:
    """Fold spans, streaming progress and the ledger into per-pass
    averages over the timed passes, one entry per per-layer metric."""
    total, streamed, runs = _span_counters(spans, recorder, ledger)
    timed = [s for s in spans.spans if s.pass_no >= first_timed]
    n = max(1, len({s.pass_no for s in timed if s.phase == "pass"}))
    ops = [s for s in timed if s.phase in ("build", "force")]

    def seconds(pred) -> float:
        return sum(s.seconds for s in ops if pred(s)) / n

    def counters(pred, source=total) -> Counters:
        c = Counters()
        for s in timed:
            if pred(s):
                c.add(source[s.id])
        return c

    def per_pass(x: float) -> float:
        return x / n

    def share(num: float, den: float) -> float:
        return num / den if den else 0.0

    def is_ml(s: Span) -> bool:
        return s.layer == "ml"

    def engine(s: Span) -> bool:
        return s.phase in ("build", "force") and not is_ml(s)

    def build(s: Span) -> bool:
        return s.phase == "build" and not is_ml(s)

    def stream_build(s: Span) -> bool:
        return s.phase == "build" and s.layer == "streaming"

    op_c = counters(engine)
    ml_c = counters(lambda s: s.phase in ("build", "force") and is_ml(s))
    st_c = counters(engine, streamed)
    all_c = counters(lambda s: True)
    batches = [b for s in timed for r in runs.get(s.id, ()) for b in recorder.batches if b["run_id"] == r] if recorder else []
    run_s = seconds(stream_build)
    trigger_ms = per_pass(sum(b["trigger_ms"] for b in batches))
    m = {
        "session.start_s": (session_start_s, "s"),
        "workload.build_s": (seconds(build), "s"),
        "workload.build_jobs": (per_pass(counters(build).jobs), "count"),
        "operators.execute_s": (seconds(lambda s: s.phase == "force" and s.layer not in ("ml", "sources")), "s"),
        "operators.jobs": (per_pass(op_c.jobs), "count"),
        "operators.stages": (per_pass(op_c.stages), "count"),
        "operators.tasks": (per_pass(op_c.tasks), "count"),
        "operators.task_run_ms": (per_pass(op_c.task_run_ms), "ms"),
        "operators.task_cpu_ms": (per_pass(op_c.task_cpu_ms), "ms"),
        "operators.shuffle_read_bytes": (per_pass(op_c.shuffle_read_bytes), "bytes"),
        "operators.shuffle_write_bytes": (per_pass(op_c.shuffle_write_bytes), "bytes"),
        "operators.spill_bytes": (per_pass(op_c.spill_bytes), "bytes"),
        "operators.busy_share": (share(per_pass(op_c.task_run_ms), seconds(engine) * 1000 * cores), "ratio"),
        "functions.score_s": (seconds(lambda s: s.layer == "functions"), "s"),
        "sources.write_s": (seconds(lambda s: s.layer == "sources" and s.phase == "force"), "s"),
        "sources.write_bytes": (per_pass(counters(lambda s: s.layer == "sources").write_bytes), "bytes"),
        "sources.read_bytes": (per_pass(all_c.read_bytes), "bytes"),
    }
    for name in ML_OPS:
        m[f"ml.{name}_s"] = (seconds(lambda s: s.op == name and is_ml(s)), "s")
    m.update({
        "ml.jobs": (per_pass(ml_c.jobs), "count"),
        "ml.stages": (per_pass(ml_c.stages), "count"),
        "ml.tasks_per_stage": (share(ml_c.tasks, ml_c.stages), "count"),
        "ml.task_run_ms": (per_pass(ml_c.task_run_ms), "ms"),
        "ml.busy_share": (share(per_pass(ml_c.task_run_ms),
                                seconds(is_ml) * 1000 * cores), "ratio"),
        "streaming.run_s": (run_s, "s"),
        "streaming.jobs": (per_pass(st_c.jobs), "count"),
        "streaming.batches": (per_pass(len(batches)), "count"),
        "streaming.input_rows": (per_pass(sum(b["input_rows"] for b in batches)), "count"),
        "streaming.trigger_ms": (trigger_ms, "ms"),
        "streaming.startstop_s": (run_s - trigger_ms / 1000, "s"),
        "streaming.empty_batch_ratio": (share(sum(b["input_rows"] == 0 for b in batches), len(batches)), "ratio"),
        "spark.jobs_per_pass": (per_pass(all_c.jobs), "count"),
        "spark.failed_tasks": (sum(c.failed_tasks for c in ledger.values()), "count"),
        "jvm.gc_ms": (per_pass(all_c.gc_ms), "ms"),
    })
    return m
