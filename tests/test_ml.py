"""Invariants for the non-SQL-expressible ML keys (SURVEY §5.3):
split sizes sum to total; balanced ratio ~1; accuracy in [0,1] and
>= majority-class baseline; identical seeds => identical predictions."""

from __future__ import annotations

import time
import uuid
from multiprocessing.pool import ThreadPool

import pytest
from pyspark import SparkContext
from pyspark.ml import Estimator, Model
from pyspark.ml.evaluation import Evaluator
from pyspark.ml.param import Param, Params
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.ml import (
    make_cross_validator,
    make_pipeline,
    make_string_indexer,
)

from machine_learning_algorithm_sparkml__spark.ml.pipelines import (
    arc_pipeline,
    covid_like_frame,
    election_like_frame,
    mla_pipeline,
    use_pipeline,
)
from machine_learning_algorithm_sparkml__spark.workload.ml import (
    q_ml_fit_predict_eval,
    q_ml_random_forest,
    q_ml_undersample_balance,
)


@pytest.fixture(scope="module")
def covid_df(spark, sf_dir):
    return covid_like_frame(spark, sf_dir).cache()


def test_covid_frame_shape(covid_df):
    assert covid_df.columns == ["row_id", "status", "priority", "segment", "nation_name"]
    assert covid_df.select("status").distinct().count() == 3


def test_rf_predictions_are_valid_classes(spark, sf_dir):
    preds = q_ml_random_forest(spark, sf_dir)
    n_classes = preds.select("label_index").distinct().count()
    bad = preds.filter((F.col("prediction") < 0) | (F.col("prediction") >= n_classes))
    assert bad.count() == 0


def test_rf_seed_determinism(spark, sf_dir):
    """Two INDEPENDENT fits (memo cleared in between) must agree
    exactly — the property that makes sharing one fitted model across
    the ml_* keys a pure cost optimization."""
    from machine_learning_algorithm_sparkml__spark.workload import ml as ml_workload

    a = q_ml_random_forest(spark, sf_dir).collect()
    ml_workload._RF_PREDS_CACHE.clear()
    b = q_ml_random_forest(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_rf_fit_is_memoized_per_session(spark, sf_dir):
    """Within one session, the ml_random_forest / ml_evaluate_accuracy /
    ml_confusion keys share ONE fitted model (VERDICT r8 #4)."""
    from machine_learning_algorithm_sparkml__spark.workload.ml import _rf_predictions

    assert _rf_predictions(spark, sf_dir) is _rf_predictions(spark, sf_dir)


def test_ml_confusion_ties_to_accuracy_and_labels(spark, sf_dir):
    """The confusion matrix must partition the corpus (row sums =
    label distribution) and its diagonal must reproduce the evaluator
    accuracy — both carried as invariant columns in the key output."""
    from machine_learning_algorithm_sparkml__spark.workload.ml import (
        q_ml_confusion,
        q_ml_evaluate_accuracy,
    )

    rows = q_ml_confusion(spark, sf_dir).collect()
    assert rows, "confusion matrix must be non-empty"
    assert all(r.diag_matches_accuracy for r in rows)
    assert all(r.rowsums_match_labels for r in rows)
    total = sum(r.n_rows for r in rows)
    diag = sum(r.n_rows for r in rows if r.label_index == r.prediction)
    acc = q_ml_evaluate_accuracy(spark, sf_dir).first().accuracy
    assert abs(diag / total - acc) < 1e-12
    # per-class recall is the cell count over the class row-sum
    for r in rows:
        assert abs(r.recall - r.n_rows / r.label_total) < 1e-15
        assert 0.0 <= r.recall <= 1.0


def test_fit_predict_eval_accuracy_beats_majority(spark, sf_dir):
    row = q_ml_fit_predict_eval(spark, sf_dir).collect()[0]
    assert 0.0 <= row.accuracy <= 1.0
    df = election_like_frame(spark, sf_dir)
    total = df.count()
    majority = df.groupBy("label").count().agg(F.max("count")).collect()[0][0]
    baseline = majority / total
    # RF on weak features may only match the baseline; it must not be worse
    # than chance-at-baseline by a wide margin.
    assert row.accuracy >= baseline * 0.8
    assert row.n_train + row.n_test == total


def test_undersample_balance_ratio(spark, sf_dir):
    counts = {r.priority: r.n_rows for r in q_ml_undersample_balance(spark, sf_dir).collect()}
    assert set(counts) == {"1-URGENT", "3-MEDIUM"}
    ratio = counts["3-MEDIUM"] / counts["1-URGENT"]
    assert 0.7 < ratio < 1.3, f"balanced ratio should be ~1, got {ratio}"


def test_mla_cross_validation_pipeline(covid_df):
    result = mla_pipeline(covid_df)
    assert 0.0 <= result.accuracy <= 1.0
    assert len(result.model.avgMetrics) == 4  # 2 depths x 2 impurities
    best_rf = result.model.bestModel.stages[-1]
    assert best_rf.getMaxDepth() in (3, 4)
    assert best_rf.getImpurity() in ("entropy", "gini")


def test_use_pipeline(spark, sf_dir):
    result = use_pipeline(election_like_frame(spark, sf_dir))
    assert 0.0 <= result.accuracy <= 1.0
    best_rf = result.model.bestModel.stages[-1]
    assert best_rf.getMaxDepth() in (3, 5)


def test_arc_pipeline_balanced_binary(covid_df):
    result = arc_pipeline(covid_df)
    assert 0.0 <= result.accuracy <= 1.0
    # binary after class filter + balance
    assert result.predictions.select("label_index").distinct().count() == 2


def test_model_save_load_roundtrip_exact(spark, sf_dir):
    """Persistence: a saved+reloaded PipelineModel must reproduce the
    in-memory model's predictions EXACTLY (seeded RF is deterministic,
    so any drift means the writer/reader lost state)."""
    from machine_learning_algorithm_sparkml__spark.workload.ml import q_ml_model_save_load

    row = q_ml_model_save_load(spark, sf_dir).first()
    assert row.n_rows > 0
    assert row.n_mismatch == 0
    assert row.roundtrip_ok is True


def test_group_ols_matches_jvm_side_moment_formula(spark, sf_dir):
    """Grouped-map pandas fit vs the pure-JVM covar_pop/var_pop
    closed form — the same population moments computed by two
    entirely different crossings must agree to rounding, and corr is
    bounded in [-1, 1]."""
    from machine_learning_algorithm_sparkml__spark.ml.regress import group_ols
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("ts").cast("double") / 86400.0).alias("x"), "value"
    )
    udf_side = {
        r.group_key: (round(r.slope, 6), round(r.intercept, 2), round(r.corr_xy, 6))
        for r in group_ols(events, "event_type", "x", "value").collect()
    }
    jvm = (
        events.groupBy("event_type")
        .agg(
            (F.covar_pop("x", "value") / F.var_pop("x")).alias("slope"),
            F.avg("value").alias("ym"),
            F.avg("x").alias("xm"),
            F.corr("x", "value").alias("c"),
        )
        .collect()
    )
    jvm_side = {
        r.event_type: (
            round(r.slope, 6),
            round(r.ym - r.slope * r.xm, 2),
            round(r.c, 6),
        )
        for r in jvm
    }
    assert udf_side == jvm_side
    assert all(-1.0 <= v[2] <= 1.0 for v in udf_side.values())


def test_group_ols_degenerate_groups_emit_null_like_regr_slope(spark):
    """Degenerate groups (ADVICE r9): a single-row or constant-x group
    yields NULL slope/intercept/corr (regr_slope semantics); constant
    y breaks only corr; the ridge path keeps its (regularized) slope
    but NULLs the OLS reference column. No group may raise."""
    from machine_learning_algorithm_sparkml__spark.ml.regress import (
        group_ols,
        group_ridge,
    )

    rows = [
        ("single", 1.0, 2.0),
        ("const_x", 3.0, 1.0),
        ("const_x", 3.0, 5.0),
        ("const_y", 1.0, 7.0),
        ("const_y", 2.0, 7.0),
        ("normal", 0.0, 0.0),
        ("normal", 1.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    ols = {r.group_key: r for r in group_ols(df, "g", "x", "y").collect()}
    assert (ols["single"].slope, ols["single"].intercept, ols["single"].corr_xy) == (
        None,
        None,
        None,
    )
    assert (ols["const_x"].slope, ols["const_x"].corr_xy) == (None, None)
    assert ols["const_y"].slope == 0.0 and ols["const_y"].corr_xy is None
    assert ols["normal"].slope == 2.0 and ols["normal"].corr_xy == 1.0

    ridge = {r.group_key: r for r in group_ridge(df, "g", "x", "y", lam=1.0).collect()}
    assert ridge["const_x"].slope_ols is None
    assert ridge["const_x"].slope is not None  # lam*n keeps it defined


def test_compact_small_files_fails_fast_on_empty_listing(spark, tmp_path):
    """An empty/unlistable source (ADVICE r9: the remote-FS shape the
    driver-local walk cannot see) must raise, never silently size the
    whole rewrite to one file."""
    import pytest as _pytest

    from machine_learning_algorithm_sparkml__spark.operators.layout import (
        compact_small_files,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    with _pytest.raises(FileNotFoundError, match="no .parquet files"):
        compact_small_files(spark, str(src), str(tmp_path / "dst"))


def test_group_ridge_shrinks_toward_zero_and_degenerates_to_ols(spark, sf_dir):
    """Ridge contract: the penalized slope keeps the OLS slope's sign
    but is strictly smaller in magnitude (per-sample penalty > 0 and
    Sxy != 0 on this corpus); intercept = ym - slope*xm uses the
    SHRUNK slope; and lam=0 reproduces group_ols exactly — the
    regularizer is the only difference between the two crossings."""
    from machine_learning_algorithm_sparkml__spark.ml.regress import group_ols, group_ridge
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("ts").cast("double") / 86400.0).alias("x"), "value"
    ).cache()
    ridge = {r.group_key: r for r in group_ridge(events, "event_type", "x", "value", lam=25.0).collect()}
    assert ridge
    for key, r in ridge.items():
        assert r.slope_ols != 0.0, key
        assert abs(r.slope) < abs(r.slope_ols), key
        assert (r.slope > 0) == (r.slope_ols > 0), key

    ols = {
        r.group_key: (round(r.slope, 9), round(r.intercept, 4))
        for r in group_ols(events, "event_type", "x", "value").collect()
    }
    lam0 = {
        r.group_key: (round(r.slope, 9), round(r.intercept, 4))
        for r in group_ridge(events, "event_type", "x", "value", lam=0.0).collect()
    }
    assert lam0 == ols
    events.unpersist()


def test_mla_cv_best_params_stable_under_fixed_seed(covid_df):
    """VERDICT r11 #6: the CV selection itself must be deterministic —
    two full runs under the reference seed (754, MLA:91) must pick the
    same (maxDepth, impurity) and reproduce every fold-averaged grid
    metric exactly. Seeded fold assignment + seeded RF makes all 12
    fits deterministic for a fixed input partitioning, which
    covid_like_frame pins; a nondeterministic selection would make
    ml_cross_validate's driver rows unreproducible."""
    a = mla_pipeline(covid_df)
    b = mla_pipeline(covid_df)
    rf_a = a.model.bestModel.stages[-1]
    rf_b = b.model.bestModel.stages[-1]
    assert rf_a.getMaxDepth() == rf_b.getMaxDepth()
    assert rf_a.getImpurity() == rf_b.getImpurity()
    assert a.model.avgMetrics == b.model.avgMetrics
    assert a.accuracy == b.accuracy


class _Identity(Model):
    def _transform(self, dataset):
        return dataset


class _CountingEstimator(Estimator):
    """Records every ``_fit`` (with its ``depth``) in a list its copies share."""

    depth = Param(Params._dummy(), "depth", "a tunable stand-in param")

    def __init__(self, calls: list):
        super().__init__()
        self.calls = calls
        self._setDefault(depth=0)

    def _fit(self, dataset):
        self.calls.append(self.getOrDefault(self.depth))
        return _Identity()


class _LocalPropertyProbe(Evaluator):
    """1.0 when a local property this thread set survives a short sleep,
    i.e. no concurrently running task shares this thread's properties."""

    def _evaluate(self, dataset):
        sc = SparkContext._active_spark_context
        token = str(uuid.uuid4())
        sc.setLocalProperty("test.probe", token)
        time.sleep(0.05)
        return float(sc.getLocalProperty("test.probe") == token)


def test_pipeline_fit_multiple_fits_untuned_prefix_once(spark):
    prefix_calls, tuned_calls = [], []
    prefix, tuned = _CountingEstimator(prefix_calls), _CountingEstimator(tuned_calls)
    maps = [{tuned.depth: d} for d in range(4)]
    fits = make_pipeline([prefix, tuned]).fitMultiple(spark.range(4), maps)
    with ThreadPool(4) as pool:
        out = pool.map(lambda _: next(fits), range(4))
    assert len(prefix_calls) == 1
    assert sorted(tuned_calls) == [0, 1, 2, 3]
    assert sorted(j for j, _ in out) == [0, 1, 2, 3]
    assert len({id(model.stages[0]) for _, model in out}) == 1  # one shared prefix model
    with pytest.raises(StopIteration):
        next(fits)


def test_pipeline_fit_multiple_falls_back_when_first_stage_tuned(spark):
    prefix_calls, tuned_calls = [], []
    prefix, tuned = _CountingEstimator(prefix_calls), _CountingEstimator(tuned_calls)
    maps = [{prefix.depth: d} for d in range(4)]
    fits = make_pipeline([prefix, tuned]).fitMultiple(spark.range(4), maps)
    with ThreadPool(4) as pool:
        pool.map(lambda _: next(fits), range(4))
    assert sorted(prefix_calls) == [0, 1, 2, 3]
    assert len(tuned_calls) == 4


def test_cross_validator_one_pool_prefix_per_fold_and_private_thread_properties(spark):
    prefix_calls, tuned_calls = [], []
    prefix, tuned = _CountingEstimator(prefix_calls), _CountingEstimator(tuned_calls)
    maps = [{tuned.depth: d} for d in range(4)]
    cv = make_cross_validator(
        make_pipeline([prefix, tuned]), _LocalPropertyProbe(), maps, parallelism=4
    )
    model = cv.fit(spark.range(30))
    assert len(prefix_calls) == 3 + 1  # once per fold, plus the best map's refit
    assert len(tuned_calls) == 3 * 4 + 1
    # every task ran on local properties no concurrent task could overwrite
    assert model.avgMetrics == [1.0] * 4


def test_engine_cross_validator_equals_stock(covid_df, monkeypatch):
    """MLA through the engine's Pipeline/CrossValidator and through
    stock pyspark's: the same fold metrics, best params and accuracy."""
    from pyspark.ml import Pipeline
    from pyspark.ml.tuning import CrossValidator

    from machine_learning_algorithm_sparkml__spark.ml import pipelines

    engine = mla_pipeline(covid_df)
    monkeypatch.setattr(pipelines, "make_pipeline", lambda stages: Pipeline(stages=list(stages)))
    monkeypatch.setattr(
        pipelines, "make_cross_validator",
        lambda *a, **k: make_cross_validator(*a, **k)._copyValues(CrossValidator()),
    )
    stock = mla_pipeline(covid_df)
    assert engine.model.avgMetrics == stock.model.avgMetrics
    rf_e, rf_s = engine.model.bestModel.stages[-1], stock.model.bestModel.stages[-1]
    assert (rf_e.getMaxDepth(), rf_e.getImpurity()) == (rf_s.getMaxDepth(), rf_s.getImpurity())
    assert engine.accuracy == stock.accuracy


def test_multi_column_indexer_labels_equal_separate_indexers(covid_df):
    cols = ["priority", "segment", "nation_name"]
    idx = [f"{c}_index" for c in cols]
    merged = make_string_indexer(["status", *cols], ["label_index", *idx]).fit(covid_df)
    label = make_string_indexer("status", "label_index").fit(covid_df)
    feats = make_string_indexer(cols, idx).fit(covid_df)
    assert merged.labelsArray == label.labelsArray + feats.labelsArray
