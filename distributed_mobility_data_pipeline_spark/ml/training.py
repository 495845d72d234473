"""MLlib training pipelines (SURVEY.md §2.12 M1-M7).

Mirrors the reference's model zoo on the driver's tables:
- preprocessing Pipeline: StringIndexer(handleInvalid=keep) + OHE +
  VectorAssembler (demand_forecasting.py:72-104, surge_pricing.py:68-95);
- regressors: RandomForest(100×d10), GBT(100×d5, step 0.1),
  LinearRegression(reg 0.01) (demand_forecasting.py:120-278);
- classifier: RandomForest on a when-binned category
  (surge_pricing.py:114-125, 233-292);
- evaluators: RMSE/MAE/R², accuracy/F1 (demand_forecasting.py:153-166,
  surge_pricing.py:264-282);
- best-model selection by min RMSE (demand_forecasting.py:304-317;
  MLflow logging replaced by a plain metrics DataFrame — no tracking
  server in scope).

All fits are seeded; metrics are rows-only checks (tree training is not
SQL-expressible).
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import (
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42


def preprocessing_pipeline(
    categorical: list[str], numeric: list[str], label: str | None = None
) -> Pipeline:
    """M1+M2+M3: index + one-hot the categoricals, assemble features."""
    stages = []
    ohe_cols = []
    for c in categorical:
        stages.append(
            StringIndexer(
                inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep"
            )
        )
        stages.append(OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_ohe"))
        ohe_cols.append(f"{c}_ohe")
    stages.append(
        VectorAssembler(
            inputCols=numeric + ohe_cols, outputCol="features", handleInvalid="skip"
        )
    )
    return Pipeline(stages=stages)


def _prepare_demand(features: DataFrame) -> DataFrame:
    return features.na.drop(
        subset=["n_lag_1", "n_lag_7", "avg_7r", "std_7r"]
    ).withColumn("label", F.col("n").cast("double"))


def train_demand_models(features: DataFrame) -> DataFrame:
    """M4+M6+M7: fit RF / GBT / LR on the demand feature table, evaluate
    RMSE/MAE/R² on a seeded 80/20 split, return a metrics table with the
    best model flagged (min RMSE)."""
    # NO persists in this path — measured and REVERTED (r20): the
    # demand feature lineage carries exchanges, and wrapping any part of
    # it in a cache changes the executed physical layout (AQE treats
    # cached fragments differently), which shifts the per-partition
    # seeded sampling of randomSplit AND tree training — a pre-split
    # data.persist() and a post-split train/test persist each moved
    # every demand metric and flipped is_best (full-row diff; the
    # values are now pinned by tests/test_ml_values.py). The classifier
    # twin below keeps its persists because its exchange-free lineage is
    # layout-stable under caching (values verified identical).
    data = _prepare_demand(features)
    prep = preprocessing_pipeline(
        ["event_type"],
        ["n_lag_1", "n_lag_7", "avg_7r", "std_7r", "day_of_week", "is_weekend"],
    ).fit(data)
    vec = prep.transform(data)
    train, test = vec.randomSplit([0.8, 0.2], seed=SEED)
    models = {
        "random_forest": RandomForestRegressor(
            numTrees=100, maxDepth=10, seed=SEED, labelCol="label"
        ),
        "gbt": GBTRegressor(
            maxIter=100, maxDepth=5, stepSize=0.1, seed=SEED, labelCol="label"
        ),
        "linear_regression": LinearRegression(regParam=0.01, labelCol="label"),
    }
    rows = []
    for name, est in models.items():
        fitted = est.fit(train)
        pred = fitted.transform(test)
        metrics = {}
        for m in ("rmse", "mae", "r2"):
            metrics[m] = RegressionEvaluator(
                labelCol="label", predictionCol="prediction", metricName=m
            ).evaluate(pred)
        rows.append((name, metrics["rmse"], metrics["mae"], metrics["r2"]))
    spark = features.sparkSession
    out = spark.createDataFrame(
        rows, "model string, rmse double, mae double, r2 double"
    )
    best = out.orderBy("rmse").limit(1).select(F.col("model").alias("best"))
    return out.crossJoin(best).withColumn(
        "is_best", (F.col("model") == F.col("best")).cast("int")
    ).drop("best")


def train_category_classifier(events: DataFrame) -> DataFrame:
    """M5: RF classifier on a when-binned target (surge category
    semantics, surge_pricing.py:114-125) over event values; returns
    accuracy/F1 metrics."""
    data = (
        events.filter(F.col("value").isNotNull())
        .withColumn(
            "bin_label",
            F.when(F.col("value") < 25.0, 0.0)
            .when(F.col("value") < 50.0, 1.0)
            .when(F.col("value") < 75.0, 2.0)
            .otherwise(3.0),
        )
        .withColumn("hour", F.hour("ts").cast("double"))
        .withColumn("dow", F.dayofweek("ts").cast("double"))
    )
    prep = preprocessing_pipeline(["event_type"], ["hour", "dow"]).fit(data)
    vec = prep.transform(data)
    # same persist-the-fit-input move as train_demand_models (r20,
    # guide §5): the RF fit's internal jobs and the four evaluator
    # passes otherwise re-run the event scan + feature pipeline each
    # time; eager function ⇒ explicit unpersist at the end
    train, test = (d.persist() for d in vec.randomSplit([0.8, 0.2], seed=SEED))
    clf = RandomForestClassifier(
        numTrees=50, maxDepth=8, seed=SEED, labelCol="bin_label"
    )
    pred = clf.fit(train).transform(test).persist()
    rows = []
    for m in ("accuracy", "f1", "weightedPrecision", "weightedRecall"):
        v = MulticlassClassificationEvaluator(
            labelCol="bin_label", predictionCol="prediction", metricName=m
        ).evaluate(pred)
        rows.append((m, v))
    for d in (train, test, pred):
        d.unpersist()
    spark = events.sparkSession
    return spark.createDataFrame(rows, "metric string, value double")
