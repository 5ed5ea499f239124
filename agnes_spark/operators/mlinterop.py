"""ML-library interop: model-based scoring over DataFrame columns.

Closes reference FUTURE.md "Interface with matrix / machine learning
libraries" the Spark-native way — pyspark.ml estimators consume the
engine's array columns directly (array_to_vector / vector_to_array
bridge both directions, zero copies through Python).

The headline op is the model-based QUALITY CLASSIFIER pattern every
modern pretraining pipeline runs (train a cheap classifier on labeled
examples, score the whole corpus, keep the confident slice): here a
logistic regression over the embedding column, with a deterministic
hash train/holdout split so accuracy is measurable in the same plan.

Scale shape: training reads only the (bounded) labeled set; SCORING is
a single mapPartitions-free Transformer pass — the fitted model is a
closed-form vector expression broadcast to executors, so the corpus
pass is one projection, no shuffle, no Python.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agnes_spark.functions import vec_double
from agnes_spark.operators.sampling import _knuth_key


def with_ml_features(df: DataFrame, vec_col: str, out_col: str = "features") -> DataFrame:
    """array<float|double> column -> pyspark.ml Vector column."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(vec_double(F.col(vec_col))))


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    holdout_mod: int = 5,
    seed: int = 11,
    max_iter: int = 30,
):
    """Fit a multinomial logistic regression on a deterministic
    hash-split training set. Returns (model, holdout_df) — the holdout
    is the rows whose Knuth hash lands in bucket 0 of `holdout_mod`
    (engine-reproducible, layout-independent; no RNG split).
    """
    from pyspark.ml.classification import LogisticRegression

    feat = with_ml_features(df, vec_col).withColumn(
        "__h", F.pmod(_knuth_key(id_col, seed), F.lit(holdout_mod))
    )
    # canonicalize the training layout (same rationale as
    # IvfIndex.build): L-BFGS treeAggregate sums in partition order,
    # so without a fixed partitioning the fitted coefficients wobble
    # with upstream AQE/session state; hash-repartition + sort makes
    # (data, seed) -> model a pure function
    train = (
        feat.filter(F.col("__h") != 0)
        .repartition(8, id_col)
        .sortWithinPartitions(id_col)
    )
    holdout = feat.filter(F.col("__h") == 0)
    lr = LogisticRegression(
        featuresCol="features", labelCol=label_col, maxIter=max_iter, regParam=0.01
    )
    model = lr.fit(train)
    # round-trip the fitted model through disk: the freshly-fit model
    # carries a training `summary` whose predictions DataFrame chains
    # to the SparkSession, and that reference can leak into task
    # closures of later scoring jobs (observed as a
    # NotSerializableException: ObservationManager, session-state
    # dependent). A loaded model is coefficients-only — also exactly
    # what a serving job would use. load() reads the metadata and the
    # coefficients eagerly, so the directory goes when it returns.
    from pyspark.ml.classification import LogisticRegressionModel

    with tempfile.TemporaryDirectory(prefix="agnes_lr_") as d:
        model.write().save(d + "/model")
        model = LogisticRegressionModel.load(d + "/model")
    return model, holdout


def score_with_model(model, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Score every row with a fitted pyspark.ml classifier: returns
    (id, prediction, confidence) where confidence is the winning
    class probability. One broadcast-model projection over the corpus
    — the scoring pass is shuffle-free."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(with_ml_features(df, vec_col))
    return scored.select(
        F.col(id_col),
        F.col("prediction").cast("long").alias("prediction"),
        F.round(F.array_max(vector_to_array("probability")), 6).alias("confidence"),
    )
