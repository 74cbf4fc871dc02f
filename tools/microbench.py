"""Micro-bench: time a subset of query keys at a given SF dir.

Usage: python tools/microbench.py [key ...]   (env: SPARK_GRAFT_SF_DIR)
Prints one JSON line {key: sec}: each key timed by bench.time_key (the
lower median of bench.RUNS noop-sink runs, cache cleared after each),
minus the full sweep and BENCH_FULL.json — the iterate-fast loop for
optimizing a single operator.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import time_key  # the official bench's timing protocol
    from machine_learning_algorithm_sparkml__spark import get_session
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    import __spark_entry__ as entrymod

    spark = get_session("microbench")
    qs = entrymod.queries()
    keys = sys.argv[1:] or ["dedup_clusters"]
    load_table(spark, sf_dir, "lineitem").count()  # warm-up, not recorded

    timings = {k: time_key(spark, k, partial(qs[k], spark, sf_dir), {}) for k in keys}
    print(json.dumps(timings))


if __name__ == "__main__":
    main()
