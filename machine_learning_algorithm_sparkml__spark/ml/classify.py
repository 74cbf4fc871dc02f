"""Random Forest classification + pipeline composition (M6, M7).

Reference parity map:
- M6 RandomForestClassifier — ``MarchineLearningAlgorithm.txt:127-130``
  (seed 1234; the report run used 3642, DOCX ``word/media/image6.png``)
- M7 Pipeline               — ``MarchineLearningAlgorithm.txt:145-146``

Scale notes: MLlib RF training is already distributed (per-depth-level
aggregation of split statistics across executors); the engine's only
jobs are to seed it (reproducibility rule, ``MarchineLearningAlgorithm
.txt:87-91``), to cache the training frame before iterative fits, and
to fit a pipeline's untuned stages once per grid search instead of once
per param map.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.base import Estimator
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.util import MetaAlgorithmReadWrite

REFERENCE_RF_SEED = 1234  # MarchineLearningAlgorithm.txt:130
REFERENCE_SPLIT_SEED = 754  # MarchineLearningAlgorithm.txt:91


def make_random_forest(
    features_col: str = "assembled_features",
    label_col: str = "label_index",
    *,
    seed: int = REFERENCE_RF_SEED,
    num_trees: int = 20,
    max_depth: int = 5,
    impurity: str = "gini",
) -> RandomForestClassifier:
    """M6: multiclass tree ensemble, fixed seed — ``new
    RandomForestClassifier().setFeaturesCol("assembled-features")
    .setLabelCol("Outcome_Index").setSeed(1234)``
    (``MarchineLearningAlgorithm.txt:127-130``)."""
    return RandomForestClassifier(
        featuresCol=features_col,
        labelCol=label_col,
        seed=seed,
        numTrees=num_trees,
        maxDepth=max_depth,
        impurity=impurity,
    )


class _PrefixSharingFits:
    """Thread-safe ``fitMultiple`` iterator: the first ``next()`` fits
    the untuned prefix under the lock; every param map then fits only
    the suffix over the prefix's (uncached) output frame."""

    def __init__(self, prefix: Pipeline, suffix: Pipeline, dataset, param_maps):
        self._prefix, self._suffix = prefix, suffix
        self._dataset, self._param_maps = dataset, param_maps
        self._lock = threading.Lock()
        self._next = 0
        self._prefix_model = self._prefixed = None

    def __iter__(self):
        return self

    def __next__(self) -> tuple[int, PipelineModel]:
        with self._lock:
            index = self._next
            if index >= len(self._param_maps):
                raise StopIteration("No models remaining.")
            self._next += 1
            if self._prefix_model is None:
                self._prefix_model = self._prefix.fit(self._dataset)
                self._prefixed = self._prefix_model.transform(self._dataset)
        suffix_model = self._suffix.fit(self._prefixed, self._param_maps[index])
        return index, PipelineModel(self._prefix_model.stages + suffix_model.stages)


class _PrefixSharingPipeline(Pipeline):
    """A ``Pipeline`` whose ``fitMultiple`` fits the leading stages no
    param map touches once, not once per map. Stock ``Pipeline`` has no
    ``fitMultiple``, so a CrossValidator over MLA's pipeline refitted
    both StringIndexers for every map of every fold, each time to the
    same model. Every per-map model equals stock's: same prefix
    models, suffix fitted on the same rows."""

    def fitMultiple(self, dataset, paramMaps):
        tuned = {param.parent for param_map in paramMaps for param in param_map}
        n_prefix = 0
        for stage in self.getStages():
            if any(s.uid in tuned for s in MetaAlgorithmReadWrite.getAllNestedStages(stage)):
                break
            n_prefix += 1
        if n_prefix == 0:
            return super().fitMultiple(dataset, paramMaps)
        # fit a copy, as stock does: concurrent fits must not share the
        # stages' JVM objects, whose params each fit writes
        stages = self.copy().getStages()
        return _PrefixSharingFits(
            Pipeline(stages=stages[:n_prefix]), Pipeline(stages=stages[n_prefix:]),
            dataset, paramMaps,
        )


def make_pipeline(stages: Sequence[Estimator]) -> Pipeline:
    """M7: stage composition — ``new Pipeline().setStages(Array(
    stringIndexer, assembler, rf))`` (``MarchineLearningAlgorithm
    .txt:145-146``). ``fit`` is stock; under a grid search
    (``fitMultiple``) the untuned leading stages are fitted once per
    call and only the tuned suffix once per param map."""
    return _PrefixSharingPipeline(stages=list(stages))


def fit_transform(estimator: Estimator, df) -> tuple[PipelineModel, object]:
    """M3: explicit fit/transform chaining outside a Pipeline
    (``A related code.txt:102-103``)."""
    model = estimator.fit(df)
    return model, model.transform(df)
