"""Multiclass classification of labeled pixel samples
(SURVEY.md §2.10): OneVsRest(LinearSVC) train / predict / persist /
evaluate.

The reference hand-rolls one-vs-all SVM-SGD — one Spark job per class
with manual cache/unpersist (SVMMultiClass.scala:88-111) and custom
model persistence (GLMClassificationMultiClassOVAModel.scala:17-51) —
and its own TODO says to replace this with ML-pipeline OneVsRest
(TestClassifierSVM.scala:14). This module IS that replacement:
``pyspark.ml.classification.OneVsRest(LinearSVC)`` with native
``model.save``/``load`` and ``MulticlassClassificationEvaluator``.

Samples arrive as (label double, features array<double>) rows (the
pixeling output, B4 fixtures); ``array_to_vector`` bridges to MLlib.
"""

from __future__ import annotations

from pyspark.ml.classification import LinearSVC, OneVsRest, OneVsRestModel
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 11  # reference train/test seed (TestClassifierSVM.scala:41-43)


def _vectorize(samples: DataFrame) -> DataFrame:
    return samples.withColumn(
        "features_vec", array_to_vector(F.col("features"))
    )


def split_samples(
    samples: DataFrame,
    weights=(0.6, 0.4),
    seed: int = SEED,
    mode: str = "random",
    key_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train/test split.

    ``mode="random"`` (default): seeded randomSplit — the
    reference-compat path (UtilsSVM.SplitSamples, UtilsSVM.scala:57-63;
    fractions are engine-RNG-dependent, so only determinism within one
    engine holds).

    ``mode="hash"``: content-hash split on ``key_col`` — membership is
    ``md5(key) first-byte bucket < round(w_train*256)``, a pure
    function of the key, so re-runs, backfills, added/removed OTHER
    rows, and other engines (the DuckDB oracle) agree row-for-row.
    The reproducible choice for training-data pipelines; same
    machinery as queries.textops.deterministic_split.
    """
    if mode == "random":
        train, test = samples.randomSplit(list(weights), seed=seed)
        return train, test
    if mode != "hash":
        raise ValueError(f"unknown split mode {mode!r}: random | hash")
    if key_col is None:
        raise ValueError("mode='hash' needs key_col")
    bucket = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 2), 16, 10
    ).cast("int")
    cut = int(round(256 * weights[0] / (weights[0] + weights[1])))
    return samples.where(bucket < cut), samples.where(bucket >= cut)


def num_classes(samples: DataFrame) -> int:
    """A10 — class count from the label column (reference:
    input.map(_.label).max(), SVMMultiClass.scala:95)."""
    from pyspark.sql import functions as F

    return int(samples.agg(F.max("label")).first()[0]) + 1


def train_ova(
    samples: DataFrame, max_iter: int = 100, reg_param: float = 0.0
) -> OneVsRestModel:
    """Train one-vs-all linear SVM (reference: SVMMultiClass.scala
    trainClassifier, 100 SGD iterations — here LinearSVC iterations).

    Rows with label <= 0 are dropped like the reference's zero-label
    NODATA filter (UtilsML.scala:92,103); labels are then shifted to
    0-based for the estimator and shifted back at predict time.
    """
    data = (
        _vectorize(samples.where(F.col("label") > 0))
        .select((F.col("label") - 1).alias("label"), "features_vec")
    )
    svc = LinearSVC(
        maxIter=max_iter, regParam=reg_param, featuresCol="features_vec"
    )
    ovr = OneVsRest(
        classifier=svc, labelCol="label", featuresCol="features_vec"
    )
    # copy() drops each sub-model's training summary, which holds the
    # SparkSession: once the session has run a pyspark.sql.Observation
    # (the package runs none; user code may), it no longer serializes,
    # and the predict UDF's closure (which captures the model) fails
    # with "Task not serializable". Nothing here reads the summaries.
    return ovr.fit(data).copy()


def predict(model: OneVsRestModel, samples: DataFrame) -> DataFrame:
    """Score samples; returns the input plus ``prediction`` (1-based
    class id, matching the layer's label band)."""
    scored = model.transform(_vectorize(samples))
    return scored.withColumn(
        "prediction", F.col("prediction") + 1
    ).drop("features_vec", "rawPrediction")


def accuracy(predictions: DataFrame) -> float:
    """Reference: MulticlassMetrics accuracy on the held-out split
    (TestClassifierSVM.scala:54-68)."""
    ev = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    return float(
        ev.evaluate(predictions.where(F.col("label") > 0))
    )


def save_model(model: OneVsRestModel, path: str) -> None:
    """Native ML persistence (replaces the reference's hand-rolled
    parquet+JSON per-class layout,
    GLMClassificationMultiClassOVAModel.scala:17-51)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> OneVsRestModel:
    return OneVsRestModel.load(path)
