"""Bucketized range join vs naive, stateful streaming totals vs
batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.rangejoin import (
    bucketized_range_join,
)
from machine_learning_algorithm_sparkml__spark.sources import load_table, load_tables


def test_bucketized_range_join_equals_naive(spark, sf_dir):
    events, part = load_tables(spark, sf_dir, "events", "part")
    pts = events.select("event_id", "value")
    bands = part.filter(F.col("p_partkey") < 50).select(
        "p_partkey",
        (F.col("p_size") * 10.0).alias("low"),
        (F.col("p_size") * 10.0 + 25.0).alias("high"),
    )
    bucketized = bucketized_range_join(pts, bands, "value", "low", "high", bucket_width=25.0)
    naive = pts.crossJoin(bands).filter(
        (F.col("value") >= F.col("low")) & (F.col("value") < F.col("high"))
    )
    b = sorted(map(tuple, bucketized.select("event_id", "p_partkey").collect()))
    n = sorted(map(tuple, naive.select("event_id", "p_partkey").collect()))
    assert b == n and len(b) > 0


def test_stateful_totals_equal_batch(spark, sf_dir):
    from machine_learning_algorithm_sparkml__spark.streaming.stateful import (
        run_stateful_running_totals,
    )

    totals = {
        r.event_type: (r.n_events, r.sum_value)
        for r in run_stateful_running_totals(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    batch = {
        r.event_type: (r.n, r.s)
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert totals == batch


def test_asof_join_attaches_columns_from_single_matched_row(spark):
    """A NULL in one value column of the matched (latest) left row must
    stay NULL — not be back-filled from an older left row (DuckDB ASOF
    semantics: all columns come from the one matched row)."""
    from machine_learning_algorithm_sparkml__spark.operators.asof import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [
            (1, 10, 100.0, "old"),
            (1, 20, None, "new"),   # latest match: price is NULL here
        ],
        "k long, ts long, price double, tag string",
    )
    right = spark.createDataFrame([(1, 25, "e1")], "k long, ts long, event string")
    out = asof_join_backward(left, right, "k", "ts", "ts", ["price", "tag"]).collect()
    assert len(out) == 1
    row = out[0]
    assert row.asof_tag == "new"
    assert row.asof_price is None, "price back-filled from an older row"
