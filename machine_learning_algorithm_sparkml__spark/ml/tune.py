"""Evaluation and hyperparameter tuning (M8-M11).

Reference parity map:
- M8  MulticlassClassificationEvaluator(accuracy)
      — ``MarchineLearningAlgorithm.txt:168-171``
- M9  ParamGridBuilder maxDepth x impurity
      — ``MarchineLearningAlgorithm.txt:192-194`` ({3,4} x {entropy,gini});
      ``RandomeForestAnalysisOnUSElectionPrediction.txt:175-177`` uses {3,5}
- M10 CrossValidator, 3 folds — ``MarchineLearningAlgorithm.txt:217-221``
      (3 folds x 4 combos = 12 fits, ``...USElectionPrediction.txt:189``)
- M11 fit / transform / evaluate — ``MarchineLearningAlgorithm.txt:237,
      253, 268-270``

Engine improvement over the reference: all folds x grid run in one
pool over one cache (the reference's 12 fits run serially, and stock
pyspark runs one fold at a time over per-fold caches), and
``fit_predict_evaluate`` caches and materializes the training frame
once (the reference rescans it 12x — SURVEY §7.5).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial
from multiprocessing.pool import ThreadPool

import numpy as np
from pyspark import StorageLevel
from pyspark.ml import Estimator
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.tuning import CrossValidator, CrossValidatorModel, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

from machine_learning_algorithm_sparkml__spark.operators.spread import spread_rows


def make_accuracy_evaluator(label_col: str = "label_index", prediction_col: str = "prediction") -> MulticlassClassificationEvaluator:
    """M8: accuracy of ``prediction`` vs indexed label."""
    return MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol=prediction_col, metricName="accuracy"
    )


def make_param_grid(
    rf: RandomForestClassifier,
    *,
    max_depths: Sequence[int] = (3, 4),
    impurities: Sequence[str] = ("entropy", "gini"),
) -> list:
    """M9: maxDepth x impurity grid (``MarchineLearningAlgorithm
    .txt:192-194``)."""
    return (
        ParamGridBuilder()
        .addGrid(rf.maxDepth, list(max_depths))
        .addGrid(rf.impurity, list(impurities))
        .build()
    )


class _OnePoolCrossValidator(CrossValidator):
    """A ``CrossValidator`` whose fit runs every fold x param map in one
    thread pool of ``min(parallelism, maps)`` threads over one cache.
    Stock pyspark uses a pool of the same size but runs one fold at a
    time (a barrier after each) and caches each fold's train and
    validation frames. Here the only cache is the input: the folds are
    the same seeded ``_kFold`` ``rand`` filters, which read the same
    rows on every pass over a fixed partitioning. Metrics, best model
    and ``avgMetrics`` equal stock's."""

    def _fit(self, dataset: DataFrame) -> CrossValidatorModel:
        if self.getCollectSubModels():
            return super()._fit(dataset)
        est = self.getOrDefault(self.estimator)
        epm = self.getOrDefault(self.estimatorParamMaps)
        eva = self.getOrDefault(self.evaluator)
        n_folds = self.getOrDefault(self.numFolds)
        owns_cache = dataset.storageLevel == StorageLevel.NONE
        if owns_cache:
            dataset.cache().count()
        try:
            folds = self._kFold(dataset)
            fits = [est.fitMultiple(train, epm) for train, _ in folds]

            def fit_and_evaluate(i: int) -> tuple[int, int, float]:
                j, model = next(fits[i])
                # own evaluator copy: evaluate writes its JVM params
                return i, j, eva.copy().evaluate(model.transform(folds[i][1], epm[j]))

            # map-major order: every fold's first fit starts at once.
            # One wrapper per task: a wrapper shares ONE local-properties
            # object with every thread it runs on, so concurrent SQL
            # executions would overwrite each other's execution ids.
            tasks = [
                inheritable_thread_target(dataset.sparkSession)(partial(fit_and_evaluate, i))
                for _ in epm for i in range(n_folds)
            ]
            metrics_all = [[0.0] * len(epm) for _ in range(n_folds)]
            # stock's cap on concurrent fits: on a 4-core host a pool of
            # 8 (folds x maps, capped by parallelism) ran the benchmark
            # pass slower and at a higher peak RSS than this pool of 4
            with ThreadPool(min(self.getParallelism(), len(epm))) as pool:
                for i, j, metric in pool.imap_unordered(lambda task: task(), tasks):
                    metrics_all[i][j] = metric
            metrics, std_metrics = self._gen_avg_and_std_metrics(metrics_all)
            best = np.argmax(metrics) if eva.isLargerBetter() else np.argmin(metrics)
            best_model = est.fit(dataset, epm[best])
        finally:
            if owns_cache:
                dataset.unpersist()
        return self._copyValues(CrossValidatorModel(best_model, metrics, None, std_metrics))


def make_cross_validator(
    estimator: Estimator,
    evaluator: MulticlassClassificationEvaluator,
    param_grid: list,
    *,
    num_folds: int = 3,
    parallelism: int = 8,
    seed: int = 754,
) -> CrossValidator:
    """M10: 3-fold grid-search CV (``MarchineLearningAlgorithm.txt:
    217-221``). Seeded fold assignment; all folds x grid fit in one
    pool of ``min(parallelism, grid size)`` threads over one cache of
    the input (additive: results equal stock ``CrossValidator``'s)."""
    return _OnePoolCrossValidator(
        estimator=estimator,
        evaluator=evaluator,
        estimatorParamMaps=param_grid,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )


def fit_predict_evaluate(
    estimator: Estimator,
    evaluator: MulticlassClassificationEvaluator,
    train: DataFrame,
    test: DataFrame,
) -> tuple[object, DataFrame, float]:
    """M11: ``fit`` on the training split, ``transform`` the test split,
    ``evaluate`` -> accuracy (``MarchineLearningAlgorithm.txt:237,253,
    268-270``). Caches and materializes ``train`` around the (possibly
    iterative) fit.

    The train split is ``spread_rows``-spread first: it derives from a
    small single-row-group scan, so it reaches the (possibly 12-fold
    CV) fit as ONE partition and every tree aggregation serializes onto
    one core (r16: RF pipeline.fit 7.4-10.5 s single-partition vs
    3.0-4.7 s spread at sf0.1/32 cores; no-op at cluster scale). The
    spread happens AFTER the caller's seeded_random_split, so split
    membership is unchanged; only MLlib's layout-dependent seeded
    bagging/fold draws shift, which no rows-only contract pins."""
    # hash-spread on row_id when present; otherwise round-robin — an
    # arbitrary first column can be a low-cardinality label/feature
    # whose hash collapses into a few skewed partitions (ADVICE r16 #1)
    spread_key = "row_id" if "row_id" in train.columns else None
    # A CrossValidator runs `parallelism` fits CONCURRENTLY over this
    # one frame: the concurrency already fills the cores, so each fit
    # wants cores/parallelism partitions, not cores (r16 measurement in
    # operators/spread.py). Plain estimators get the full spread.
    get_par = getattr(estimator, "getParallelism", None)
    n_jobs = get_par() if callable(get_par) else 1
    sc = train.sparkSession.sparkContext
    train = spread_rows(
        train, spread_key, n=max(2, sc.defaultParallelism // max(1, n_jobs))
    )
    # materialize once: concurrent fold readers of a merely-marked
    # cache each compute it ("Block rdd_... already exists")
    train.cache().count()
    try:
        model = estimator.fit(train)
    finally:
        train.unpersist()
    predictions = model.transform(test)
    accuracy = evaluator.evaluate(predictions)
    return model, predictions, accuracy
