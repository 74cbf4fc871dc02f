"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ml_cv_training --seed 1 --seconds 12 --trace 0

Run it from the root of the repository: Spark's Python workers import
the engine package from the working directory (the benchmark does not
exercise shipping code to workers). One Python thread drives the
engine on ``local[<cores>]`` in a closed loop, one op at a time:

1. set up: generate the seeded inputs, start the session;
2. the cold pass: every op once in the fresh session, timed;
3. check every cold-pass output against an independent answer, untimed,
   and let the JIT settle;
4. timed passes until ``--seconds`` have been spent in them and the
   workload's least number of passes is made.

Every pass reads its inputs through a fresh directory of links, so no
session memo keyed by the input path can answer a later pass. The seed
sets the inputs and the op order inside each timed pass. The cold pass
runs the ops in the workload's own order: whichever op runs first pays
most of the session's warm-up (up to 25 s for the ML pipelines), so a
seeded order would make ``cold_pass_s`` a draw of which op came first.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics, or
with ``--trace 1`` the per-layer ledger. The line before it holds the
run's full record (quartiles, sample counts, environment, drift). See
perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
ENGINE = "machine_learning_algorithm_sparkml__spark"

#: Driver heap limit, well below the memory of a small host (the
#: session's own default is 24g). The heap grows on demand up to it, so
#: peak RSS follows what the run allocates.
DRIVER_MEM = "2g"
#: G1 grows the heap when collection takes more than 1 / (1 + ratio)
#: of the time. At the default ratio (12) short bursts of collection
#: work grew it, and peak RSS of one ML workload read 1.81-2.43 GB over
#: four runs; at 4 the heap grows when the live data needs room, and
#: the same four seeds read 1.98-2.08 GB (median ``pass_s`` 23.1 s
#: against 22.0 s, within the spread between runs).
GC_TIME_RATIO = 4
#: Pass 0 is the cold pass. Its outputs are then checked, which runs
#: every op's plan once more; together they warm the session, and
#: every later pass is timed.
FIRST_TIMED = 1
#: Seconds from the end of the cold pass to the first timed pass. The
#: JIT compiles the methods the cold pass made hot in threads of its
#: own; without the pause that work overlaps the first timed op, which
#: then read up to 40% slower (an ML pipeline: 7.5 s against 10.8 s).
SETTLE_S = 5.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    missing = _missing((ENGINE, "__spark_entry__", "tools.parity_drive"))
    if missing:
        print(f"perfbench: run from the repository root; cannot import {missing}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    try:
        record = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(RUN_DIR, "records"), exist_ok=True)
    with open(os.path.join(RUN_DIR, "records", f"{os.path.basename(work)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not args.trace and record["failed"] == 0:
        with open(os.path.join(RUN_DIR, "untraced.jsonl"), "a") as f:
            f.write(json.dumps({"key": _untraced_key(args), "pass_s": record["metrics"]["pass_s"]["value"]}) + "\n")
    print("perfbench-record " + json.dumps(record))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def _missing(modules: tuple[str, ...]) -> list[str]:
    out = []
    for m in modules:
        try:
            if importlib.util.find_spec(m) is None:
                out.append(m)
        except ModuleNotFoundError:
            out.append(m)
    return out


def _pin_environment(work: str, trace: bool) -> None:
    """Settings the engine reads from the environment, fixed before
    pyspark starts. The event log is enabled from outside the session
    builder so that the session's own settings stay in force."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # without -XX:-UsePerfData the JVM writes a perf-data file to the
    # system temp directory, outside the run directory
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:GCTimeRatio={GC_TIME_RATIO}'",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file:{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _quartiles(values: list[float]) -> dict:
    q1, q3 = statistics.quantiles(values, n=4)[::2] if len(values) > 1 else (values[0], values[0])
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def _drift(values: list[float]) -> float | None:
    """Median of the last third of the timed passes over the median of
    the first third; None with fewer than two passes (every
    ``ml_cv_training`` run: its one timed pass outlasts ``--seconds``)."""
    if len(values) < 2:
        return None
    k = max(1, len(values) // 3)
    return statistics.median(values[-k:]) / statistics.median(values[:k])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _child_pids(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{task}/children") as f:
            out += [int(p) for p in f.read().split()]
    return out


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        #: each op's seconds, one entry per pass
        self.op_seconds: dict[str, list[float]] = {}

    def execute(self) -> dict:
        args = self.args
        _pin_environment(self.work, bool(args.trace))
        load_start = os.getloadavg()

        import datagen
        import tracing
        import workloads
        from pyspark import SparkContext
        from machine_learning_algorithm_sparkml__spark.session import get_session

        self.inputs = datagen.write(args.seed, workloads.INPUT_SIZES[args.workload], os.path.join(self.work, "inputs"))
        self.ops = workloads.WORKLOADS[args.workload]
        t = time.monotonic()
        spark = get_session("perfbench")
        session_start_s = time.monotonic() - t
        self.spark = spark
        jvm = [p for p in _child_pids(os.getpid()) if os.path.basename(os.readlink(f"/proc/{p}/exe")) == "java"]
        sc = spark.sparkContext
        self.spans = tracing.Spans(sc if args.trace else None)
        recorder = None
        if args.trace:
            recorder = tracing.streaming_recorder()
            spark.streams.addListener(recorder)
        setup_s = time.monotonic() - T0

        try:
            cold, results = self._pass(0)
            cold_end = time.monotonic()
            self._check(results)
            del results
            time.sleep(max(0.0, SETTLE_S - (time.monotonic() - cold_end)))
            timed: list[float] = []
            timed_start = time.monotonic()
            min_passes = workloads.MIN_TIMED_PASSES[args.workload]
            while len(timed) < min_passes or time.monotonic() - timed_start < args.seconds:
                timed.append(self._pass(FIRST_TIMED + len(timed))[0])
            peak_rss_kb = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in jvm)
            heap_peak_mb = _heap_peak_bytes(sc) / 2**20
            env = {
                "seed": args.seed,
                "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
                "driver_mem": DRIVER_MEM,
                "gc_time_ratio": GC_TIME_RATIO,
                "spark": spark.version,
                "java": _java_version(),
                "python": platform.python_version(),
                "load_start": load_start,
                "heap_peak_mb": heap_peak_mb,
            }
            if recorder is not None:
                recorder.drain()
        finally:
            try:
                spark.stop()
            finally:
                _stop_gateway(SparkContext)
        env["load_end"] = os.getloadavg()

        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold, "s"),
            "pass_s": (statistics.median(timed), "s"),
            "peak_rss_mb": (peak_rss_kb / 1024, "MB"),
        }
        metrics = e2e
        if args.trace:
            ledger = tracing.parse_event_log(tracing.event_log_files(os.path.join(self.work, "eventlog")))
            metrics = tracing.per_layer(
                self.spans, recorder, ledger, first_timed=FIRST_TIMED, cores=env["cores"], session_start_s=session_start_s,
            )
            metrics["jvm.heap_peak_mb"] = (heap_peak_mb, "MB")
            metrics["trace.overhead"] = (statistics.median(timed) / _untraced_pass_s(args), "ratio")
            bad = tracing.ops_without_jobs(self.spans, recorder, ledger, FIRST_TIMED)
            self.failures += [f"{op} launched no Spark job on timed pass {p}" for p, op in bad]
        failed = len(self.failures)
        return {
            "workload": args.workload,
            "trace": args.trace,
            "env": env,
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "error_rate": failed / self.attempted,
            "failures": self.failures,
            "cold_pass_s": cold,
            "pass_s": _quartiles(timed),
            "drift": _drift(timed),
            "timed_passes": timed,
            "op_seconds": self.op_seconds,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _stage_inputs(self, pass_no: int) -> str:
        """A fresh directory of links to the seeded input files."""
        d = os.path.join(self.work, "pass", str(pass_no), "in")
        os.makedirs(d)
        for name, path in self.inputs.items():
            os.symlink(path, os.path.join(d, os.path.basename(path)))
        return d

    def _pass(self, pass_no: int) -> tuple[float, list]:
        """Run every op once: in the workload's order for the cold pass,
        in seeded order for a timed pass. Returns the summed op time and
        each op's (op, result, output dir)."""
        in_dir = self._stage_inputs(pass_no)
        out_dir = os.path.join(self.work, "pass", str(pass_no), "out")
        order = list(self.ops)
        if pass_no >= FIRST_TIMED:
            self.rng.shuffle(order)
        total = 0.0
        results = []
        with self.spans.span(f"pass {pass_no}", pass_no=pass_no, phase="pass") as ps:
            for op in order:
                self.attempted += 1
                try:
                    with self.spans.span(f"{op.name} build", pass_no=pass_no, op=op.name, layer=op.layer,
                                         phase="build", parent=ps.id) as b:
                        result = op.build(self.spark, in_dir, out_dir)
                    with self.spans.span(f"{op.name} force", pass_no=pass_no, op=op.name, layer=op.layer,
                                         phase="force", parent=ps.id) as f:
                        op.force(result, out_dir)
                except Exception:
                    self.failures.append(f"pass {pass_no} {op.name}: {traceback.format_exc(limit=3)}")
                    traceback.print_exc(file=sys.stderr)
                    continue
                total += b.seconds + f.seconds
                self.op_seconds.setdefault(op.name, []).append(b.seconds + f.seconds)
                results.append((op, result, out_dir))
                self.spark.catalog.clearCache()
        return total, results

    def _check(self, results: list) -> None:
        """Compare each output with its independent answer, untimed."""
        import duckdb

        con = duckdb.connect()
        try:
            for name, path in self.inputs.items():
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for op, result, out_dir in results:
                with self.spans.span(f"{op.name} check", pass_no=0, op=op.name, layer=op.layer, phase="check"):
                    try:
                        err = op.check(result, con, out_dir)
                    except Exception:
                        err = traceback.format_exc(limit=3)
                if err:
                    self.failures.append(f"check {op.name}: {err}")
                    print(f"perfbench: check {op.name} failed: {err}", file=sys.stderr)
        finally:
            con.close()


def _heap_peak_bytes(sc) -> int:
    """Sum over the driver JVM's heap memory pools of each pool's peak
    used bytes since the JVM started."""
    jvm = sc._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
               if p.getType().equals(heap))


def _java_version() -> str:
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr
    return out.splitlines()[0] if out else "unknown"


def _stop_gateway(spark_context_cls) -> None:
    """Shut the JVM down and wait for it, so that no process of the run
    outlives it. PySpark leaves the gateway JVM running after
    ``stop()`` until the interpreter exits."""
    gateway = spark_context_cls._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    spark_context_cls._gateway = None
    spark_context_cls._jvm = None


def _untraced_key(args) -> str:
    """Identifies the runs one ``trace.overhead`` may divide by: the same
    workload and ``--seconds`` on the same code (a digest of every
    Python source in the checkout)."""
    digest = hashlib.sha256()
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(top, name)
            digest.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                digest.update(f.read())
    return f"{args.workload}/{args.seconds}/{digest.hexdigest()[:16]}"


def _untraced_pass_s(args) -> float:
    """The untraced ``pass_s`` that ``trace.overhead`` divides by: the
    median of the latest correct untraced runs with this run's key, or
    of one untraced run made now when there is none."""
    path = os.path.join(RUN_DIR, "untraced.jsonl")
    key = _untraced_key(args)
    if not _untraced(path, key):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return statistics.median(_untraced(path, key)[-10:])


def _untraced(path: str, key: str) -> list[float]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["pass_s"] for r in rows if r.get("key") == key]


if __name__ == "__main__":
    sys.exit(main())
