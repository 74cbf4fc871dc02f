"""SparkSession construction.

The reference runs ``spark-shell --master yarn`` with stock configs
(``MarchineLearningAlgorithm.txt:11``, ``A related code.txt:14``,
``RandomeForestAnalysisOnUSElectionPrediction.txt:27``). This engine
pins the configs that matter for correctness (UTC timestamps, Arrow)
and for scale (AQE, skew-join handling, sane shuffle parallelism) —
SURVEY.md §7.5.

In local mode the shuffle-partition count defaults to the core count
(``SPARK_GRAFT_CPUS``); on a real cluster AQE coalesces the post-shuffle
partitions at runtime, so the static setting is only an upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "machine_learning_algorithm_sparkml__spark"


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    default = len(os.sched_getaffinity(0))
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", default)))
    except ValueError:
        return default


def get_session(app_name: str = DEFAULT_APP_NAME, *, master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB design, SURVEY.md §7.5):
    - AQE on: runtime partition coalescing, skew-join splitting, and
      broadcast demotion/promotion replace hand-tuned partition counts.
    - ``shuffle.partitions`` is set to the local core count for tests;
      a cluster deployment should leave it high and let AQE coalesce.
    - Arrow on: every pandas_udf / toPandas crossing is batched.
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle (and any other engine reading the same parquet).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
