"""The three reference pipelines, recreated over driver testdata.

Fixture mapping (FIXTURES.md "Mapping onto the driver's testdata"):
- covid_cases  -> orders x customer x nation: ``o_orderstatus`` plays
  Outcome (3 classes), ``o_orderpriority``/``c_mktsegment``/``n_name``
  play the categorical features.
- primary_results/county_facts -> the flagship winners frame: numeric
  features (o_totalprice, c_acctbal) predicting the winner's segment.

Pipelines:
- ``mla_pipeline``  — ``MarchineLearningAlgorithm.txt``: one multi-col
  StringIndexer (label and features) -> VectorAssembler -> RandomForest
  -> 3-fold CV over maxDepth {3,4} x impurity {entropy,gini}; the
  indexer and assembler are fitted once per fold, not once per map.
- ``use_pipeline``  — ``RandomeForestAnalysisOnUSElectionPrediction
  .txt``: label indexer + numeric features, grid maxDepth {3,5}.
- ``arc_pipeline``  — ``A related code.txt``: undersample-balance ->
  explicit fit/transform (M3) of one multi-col indexer (label and
  features) -> OneHotEncoder -> assembler -> RF -> CV.

All seeds are the reference's own: split 754, RF 1234.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.ml.balance import undersample_balance
from machine_learning_algorithm_sparkml__spark.ml.classify import (
    REFERENCE_SPLIT_SEED,
    fit_transform,
    make_pipeline,
    make_random_forest,
)
from machine_learning_algorithm_sparkml__spark.ml.features import (
    make_one_hot_encoder,
    make_string_indexer,
    make_vector_assembler,
)
from machine_learning_algorithm_sparkml__spark.ml.tune import (
    fit_predict_evaluate,
    make_accuracy_evaluator,
    make_cross_validator,
    make_param_grid,
)
from machine_learning_algorithm_sparkml__spark.operators import (
    inner_equi_join,
    seeded_random_split,
)
from machine_learning_algorithm_sparkml__spark.sources import load_tables


@dataclass
class PipelineResult:
    model: object
    predictions: DataFrame
    accuracy: float


def covid_like_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-features + string-label frame shaped like the COVID
    fixture (FIXTURES.md fixture 1): label ``status`` with 3 classes,
    three categorical feature columns. Dim joins broadcast."""
    orders, customer, nation = load_tables(spark, sf_dir, "orders", "customer", "nation")
    oc = inner_equi_join(orders, customer, "o_custkey", "c_custkey", broadcast_right=True)
    ocn = inner_equi_join(oc, nation, "c_nationkey", "n_nationkey", cast_right_key="int", broadcast_right=True)
    return ocn.select(
        F.col("o_orderkey").alias("row_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation_name"),
    )


def election_like_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-features frame shaped like USE's joined winners table:
    one row per customer (the flagship window's rank-1 survivors) with
    numeric demographics-like features and a categorical label."""
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        flagship_top_order_per_customer,
    )

    winners = flagship_top_order_per_customer(spark, sf_dir)
    _, customer = load_tables(spark, sf_dir, "orders", "customer")
    enriched = inner_equi_join(
        winners, customer.select("c_custkey", "c_acctbal"), "o_custkey", "c_custkey",
        cast_right_key="bigint", broadcast_right=True,
    )
    return enriched.select(
        F.col("o_custkey").alias("row_id"),
        F.col("c_mktsegment").alias("label"),
        F.col("o_totalprice").cast("double").alias("feat_totalprice"),
        F.col("c_acctbal").cast("double").alias("feat_acctbal"),
    )


def mla_pipeline(df: DataFrame) -> PipelineResult:
    """MLA end-to-end: indexer -> assembler -> RF -> CV(3) over
    {3,4}x{entropy,gini} -> accuracy on the seeded 20% split
    (``MarchineLearningAlgorithm.txt:62-270``). The reference's label
    and feature indexers are one multi-col StringIndexer: one fit per
    fold instead of two, same per-column ``frequencyDesc`` labels."""
    feature_cols = ["priority", "segment", "nation_name"]
    index_cols = [f"{c}_index" for c in feature_cols]
    indexer = make_string_indexer(["status", *feature_cols], ["label_index", *index_cols])
    assembler = make_vector_assembler(index_cols)
    rf = make_random_forest(num_trees=10)
    pipeline = make_pipeline([indexer, assembler, rf])
    evaluator = make_accuracy_evaluator()
    cv = make_cross_validator(pipeline, evaluator, make_param_grid(rf))
    train, test = seeded_random_split(df, (0.8, 0.2), seed=REFERENCE_SPLIT_SEED)
    model, predictions, accuracy = fit_predict_evaluate(cv, evaluator, train, test)
    return PipelineResult(model, predictions, accuracy)


def use_pipeline(df: DataFrame) -> PipelineResult:
    """USE end-to-end: label indexer -> numeric assembler -> RF -> CV
    over maxDepth {3,5} (``...USElectionPrediction.txt:116-217``)."""
    label_indexer = make_string_indexer("label", "label_index")
    assembler = make_vector_assembler(["feat_totalprice", "feat_acctbal"])
    rf = make_random_forest(num_trees=10)
    pipeline = make_pipeline([label_indexer, assembler, rf])
    evaluator = make_accuracy_evaluator()
    cv = make_cross_validator(pipeline, evaluator, make_param_grid(rf, max_depths=(3, 5)))
    train, test = seeded_random_split(df, (0.8, 0.2), seed=REFERENCE_SPLIT_SEED)
    model, predictions, accuracy = fit_predict_evaluate(cv, evaluator, train, test)
    return PipelineResult(model, predictions, accuracy)


def arc_pipeline(df: DataFrame, *, minority: str = "1-URGENT", majority: str = "3-MEDIUM") -> PipelineResult:
    """ARC end-to-end: class filter -> undersample balance (M12) ->
    explicit indexer fit/transform (M3) -> OneHotEncoder (M4) ->
    assembler over the one-hot vectors -> RF -> CV -> accuracy
    (``A related code.txt:62-192``). Binary label like FATAL/RESOLVED.
    The label and feature indexers are one multi-col StringIndexer
    (one fit, same per-column labels as two).
    """
    two_class = df.filter(F.col("priority").isin(minority, majority))
    balanced = undersample_balance(two_class, "priority", minority, majority, seed=REFERENCE_SPLIT_SEED)

    indexer = make_string_indexer(
        ["priority", "segment", "nation_name"], ["label_index", "segment_index", "nation_index"]
    )
    _, indexed = fit_transform(indexer, balanced)          # M3: explicit chaining
    encoder = make_one_hot_encoder(["segment_index", "nation_index"], ["segment_vec", "nation_vec"])
    _, encoded = fit_transform(encoder, indexed)

    assembler = make_vector_assembler(["segment_vec", "nation_vec"])
    rf = make_random_forest(num_trees=10)
    pipeline = make_pipeline([assembler, rf])
    evaluator = make_accuracy_evaluator()
    cv = make_cross_validator(pipeline, evaluator, make_param_grid(rf))
    train, test = seeded_random_split(encoded, (0.8, 0.2), seed=REFERENCE_SPLIT_SEED)
    model, predictions, accuracy = fit_predict_evaluate(cv, evaluator, train, test)
    return PipelineResult(model, predictions, accuracy)
