"""The benchmark's workloads: which engine calls make up one pass, and
how each call's output is checked.

An op is one closed-loop operation. ``build`` calls the engine's public
query builder and returns what it built; ``force`` drives that result
through a sink. Every op also knows how to check its output against an
independent answer, so that a fast wrong answer never counts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import __spark_entry__
import datagen
from machine_learning_algorithm_sparkml__spark import functions as gfn
from machine_learning_algorithm_sparkml__spark.ml import pipelines
from machine_learning_algorithm_sparkml__spark.sources import load_table, write_parquet

QUERIES = __spark_entry__.queries()
ORACLES = __spark_entry__.oracle_sql()

#: Tolerated accuracy shortfall of a cross-validated forest against
#: always predicting the test split's majority class. The inputs plant
#: a signal (see datagen), so a correct pipeline scores well above the
#: baseline; the margin only absorbs the sampling noise of test splits
#: of about 80 (USE) to 600 (MLA) rows.
ACCURACY_MARGIN = 0.05


@dataclass(frozen=True)
class Op:
    name: str
    #: the engine layer the op exercises: operators, functions, sources,
    #: streaming or ml
    layer: str
    build: Callable[[Any, str, str], Any]
    force: Callable[[Any, str], None]
    check: Callable[[Any, Any, str], str | None]


def _noop(df, out_dir: str) -> None:
    df.write.format("noop").mode("overwrite").save()


def _key_build(key: str):
    return lambda spark, in_dir, out_dir: QUERIES[key](spark, in_dir)


def _oracle_check(sql: str):
    def check(result, con, out_dir: str) -> str | None:
        return compare(result.toPandas(), con.sql(sql).df())
    return check


def compare(spark_pdf, duck_pdf) -> str | None:
    """None when the two frames hold the same rows, else why not."""
    from tools.parity_drive import compare_frames

    schema_ok, klass_ok, values_ok, detail = compare_frames(spark_pdf, duck_pdf)
    if schema_ok and klass_ok and values_ok:
        return None
    return f"differs from the DuckDB oracle: {detail[:2]}"


def key_op(key: str, layer: str) -> Op:
    return Op(key, layer, _key_build(key), _noop, _oracle_check(ORACLES[key]))


# --- functions: the per-document scoring projection -------------------------

_SCORE_ORACLE = f"""
    SELECT q.doc_id, q.quality, l.lang_pred, t.n_tokens
    FROM ({ORACLES["text_quality"]}) q
    JOIN ({ORACLES["text_lang_id"]}) l USING (doc_id)
    JOIN ({ORACLES["text_token_count"]}) t USING (doc_id)
"""


def _score_build(spark, in_dir: str, out_dir: str):
    from pyspark.sql import functions as F

    text = F.col("text")
    return load_table(spark, in_dir, "documents").select(
        "doc_id",
        gfn.quality_score(text).alias("quality"),
        gfn.lang_id(text).alias("lang_pred"),
        gfn.token_count(text).alias("n_tokens"),
    )


SCORE = Op("text_scores", "functions", _score_build, _noop, _oracle_check(_SCORE_ORACLE))


# --- sources: write the curated corpus ----------------------------------------

_CURATED_KEY = "text_quality_filter"


def _write_force(df, out_dir: str) -> None:
    write_parquet(df, os.path.join(out_dir, "curated"))


def _write_check(result, con, out_dir: str) -> str | None:
    written = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out_dir, 'curated')}/*.parquet')").df()
    return compare(written, con.sql(ORACLES[_CURATED_KEY]).df())


WRITE = Op("write_curated", "sources", _key_build(_CURATED_KEY), _write_force, _write_check)


# --- ml: the three reference Random Forest pipelines ---------------------------


#: Each pipeline and the frame builder it reads.
PIPELINES = {
    "mla": (pipelines.mla_pipeline, pipelines.covid_like_frame),
    "arc": (pipelines.arc_pipeline, pipelines.covid_like_frame),
    "use": (pipelines.use_pipeline, pipelines.election_like_frame),
}
#: Every pipeline's grid: two tree depths by two impurities.
PARAM_MAPS = 4


def _ml_build(name: str):
    run, frame = PIPELINES[name]
    return lambda spark, in_dir, out_dir: run(frame(spark, in_dir))


def _ml_force(result, out_dir: str) -> None:
    _noop(result.predictions, out_dir)


def _ml_check(result, con, out_dir: str) -> str | None:
    maps = len(result.model.avgMetrics)
    if maps != PARAM_MAPS:
        return f"cross-validated {maps} param maps, expected {PARAM_MAPS}"
    counts = [r["count"] for r in result.predictions.groupBy("label_index").count().collect()]
    baseline = max(counts) / sum(counts)
    if not result.accuracy >= baseline - ACCURACY_MARGIN:
        return f"accuracy {result.accuracy:.3f} below majority baseline {baseline:.3f} - {ACCURACY_MARGIN}"
    return None


def ml_op(name: str) -> Op:
    return Op(name, "ml", _ml_build(name), _ml_force, _ml_check)


#: The input size each workload reads (see datagen).
INPUT_SIZES = {"ml_cv_training": datagen.SMALL, "engine_mix": datagen.SF0_1}
#: Timed passes a run makes at the least, however short ``--seconds``.
#: Three let the median of an ``engine_mix`` run pass over one pass the
#: shared host slowed (single passes read up to 30% slower than their
#: neighbours, every op alike). An ML pass takes about 23 s, and a
#: second one in each of the protocol's runs does not fit its hour.
MIN_TIMED_PASSES = {"ml_cv_training": 1, "engine_mix": 3}

WORKLOADS: dict[str, list[Op]] = {
    "ml_cv_training": [ml_op("mla"), ml_op("arc"), ml_op("use")],
    "engine_mix": [
        key_op("sql_tpch_q3", "operators"),
        key_op("sql_tpch_q6", "operators"),
        key_op("sql_tpch_q18", "operators"),
        SCORE,
        WRITE,
        key_op("embedding_neardup_portable", "operators"),
        key_op("doc_chunk_fixed", "operators"),
        key_op("streaming_window_counts", "streaming"),
    ],
}
