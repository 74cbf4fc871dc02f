"""Benchmark driver: times every query key at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on the session's local core count
(``SPARK_GRAFT_CPUS``, else every core this process may use) and prints
ONE JSON line of totals:

    {"metric": "total_bench_sec", "value": N, "unit": "sec", "sf": 0.1,
     "n_queries": 268, "n_failures": 0, "full": "BENCH_FULL.json"}

The JSON line is the ONLY thing on stdout: fd 1 is redirected to
stderr at the OS level for the whole run (so JVM banners, Spark
warnings, and progress output can't interleave or truncate it) and the
saved real stdout receives exactly one line at the end.

One protocol for every key (``time_key``): the key's DataFrame is
forced through the noop sink (full pipeline runs, nothing collected to
the driver) ``RUNS`` times, with the cache cleared after each run.
BENCH_FULL.json holds the lower median per key under "queries" and
every run under "runs" (so the min is there too), plus the session
config, self-verification gating and any failures. A JVM warm-up query
runs first and is not recorded.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial
from time import perf_counter

RUNS = 3

#: Keys whose FIRST run warms a session-level memo (the shared seeded
#: RF fit, workload/ml._rf_predictions). Their repeats are structurally
#: cheaper, not less noisy — a lower-median over [fit+query, query, query]
#: would price the fit at zero ANYWHERE in the sweep total. These keys
#: get exactly one timed run: whichever runs first in the sweep carries
#: the one fit (exactly what a user's single pass through the workload
#: pays), the rest report their true memoized cost.
SESSION_MEMO_KEYS = {
    "ml_confusion",
    "ml_evaluate_accuracy",
    "ml_random_forest",
    # bucketed-table pair memo (workload/scale._bucketed_pair): the
    # one-time writes are setup; the key measures the co-located join
    "join_bucketed",
}


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    """Execute the full plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def report_stat(runs: list[float]) -> float:
    """Lower median: for an even run count prefer the faster sample."""
    return sorted(runs)[(len(runs) - 1) // 2]


def time_key(spark, name: str, run, runs: dict[str, list[float]]) -> float:
    """Force ``run()``'s DataFrame through the noop sink RUNS times (once
    for SESSION_MEMO_KEYS), clearing the cache after each run. Records
    every run under ``runs[name]`` and returns their lower median; an
    exception from the key propagates."""
    samples = []
    for _ in range(1 if name in SESSION_MEMO_KEYS else RUNS):
        t0 = perf_counter()
        _force(run())
        samples.append(round(perf_counter() - t0, 3))
        # caches (LSH signatures, checkpoints) must not leak into the
        # next run's timing or hog executor memory
        spark.catalog.clearCache()
    runs[name] = samples
    return report_stat(samples)


def sweep(spark, qs: dict, sf_dir: str) -> dict:
    """Time every key of ``qs`` in name order. A key that raises lands
    in "failures" and the sweep goes on."""
    queries: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    failures: dict[str, str] = {}
    for name in sorted(qs):
        try:
            queries[name] = time_key(spark, name, partial(qs[name], spark, sf_dir), runs)
        except Exception as exc:  # keep benching; report the failure
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            spark.catalog.clearCache()
        print(
            f"[bench] {name}: {queries.get(name, 'FAIL')} {runs.get(name, [])}",
            file=sys.stderr,
            flush=True,
        )
    return {"queries": queries, "runs": runs, "failures": failures}


def result_line(full: dict) -> str:
    """The one stdout line: sweep totals only; per-key numbers live in
    BENCH_FULL.json."""
    return json.dumps(
        {
            "metric": full["metric"],
            "value": full["value"],
            "unit": full["unit"],
            "sf": full["sf"],
            "n_queries": full["n_queries"],
            "n_failures": len(full["failures"]),
            "full": "BENCH_FULL.json",
        },
        separators=(",", ":"),
    )


def main() -> None:
    # Reserve the real stdout for the one JSON result line; everything
    # else (JVM banners, Spark logs, warm-up chatter — including output
    # written by child processes directly to fd 1) goes to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # BENCH measures the operator a user would run: in-query
    # self-verification (ANN brute-force truth passes, frame-count
    # audits) is disabled here and lives in the driver correctness run
    # + pytest invariants instead (VERDICT r5 #2). The gated keys are
    # recorded in BENCH_FULL.json under "self_verify".
    os.environ["SPARK_GRAFT_SELF_VERIFY"] = "0"

    from machine_learning_algorithm_sparkml__spark import get_session
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.workload.llm import SELF_VERIFIED_KEYS
    import __spark_entry__ as entrymod

    spark = get_session("bench")
    # Warm-up: JVM/codegen/file-index priming, not recorded.
    load_table(spark, sf_dir, "lineitem").count()

    full = sweep(spark, entrymod.queries(), sf_dir)
    full.update(
        metric="total_bench_sec",
        value=round(sum(full["queries"].values()), 3),
        unit="sec",
        sf=_sf_from_dir(sf_dir),
        n_queries=len(full["queries"]),
        config={
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "runs": RUNS,
        },
        # These keys carry an in-query truth pass (ANN recall /
        # frame-count audit) that is DISABLED for bench timings; the
        # driver correctness run and tests/test_llm.py execute it.
        self_verify={"enabled": False, "gated_keys": list(SELF_VERIFIED_KEYS)},
    )
    repo_root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_root, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    print("[bench] full per-key result -> BENCH_FULL.json", file=sys.stderr)

    with os.fdopen(real_stdout, "w") as out:
        out.write(result_line(full) + "\n")
        out.flush()
    if full["failures"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
