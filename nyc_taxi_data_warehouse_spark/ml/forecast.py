"""Fare-forecasting chain (SURVEY §3.3): train → 7-day recursive forecast →
hindcast evaluation.

Reference: sklearn RandomForestRegressor(n_estimators=200, random_state=42,
min_samples_leaf=2) over FARE_DAILY_FEATURES with a positional 70/30 time
split (`dags/fare_model_training_dag.py:69-80`), recursive 7-day feature
roll-forward shifting lag7←lag1←prediction (`dags/fare_forecasting_dag.py:58-82`),
and a last-7-days hindcast writing MAE/MAPE (`dags/Forecast_evaluation.py:36-86`).

Spark-first translation: Spark ML RandomForestRegressor with the same
hyperparameters; the feature table is daily-grain (bounded rows at any raw
scale), so the recursive roll-forward is a legitimate driver-side loop —
each step consumes the previous prediction, which is inherently sequential.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FEATURE_COLS = [
    "trip_count",
    "avg_distance",
    "weekend_trip_count",
    "weekday_trip_count",
    "avg_daily_temperature",
    "avg_daily_humidity",
    "is_precip_day",
    "avg_fare_lag1",
    "avg_fare_lag7",
    "avg_fare_ma7",
]
TARGET = "avg_fare"
MODEL_VERSION = "rf_v1"


@dataclass
class TrainResult:
    model: object
    mae: float
    n_train: int
    n_test: int


def _prepare(features: DataFrame) -> DataFrame:
    """dropna (reference `fare_model_training_dag.py:49`) + ordered."""
    return features.na.drop(subset=FEATURE_COLS + [TARGET]).orderBy("trip_date")


def train(features: DataFrame) -> TrainResult:
    """RF train with a positional 70/30 time split and holdout MAE."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    df = _prepare(features)
    n = df.count()
    split = int(n * 0.7)
    indexed = df.withColumn(
        "__idx", F.row_number().over(Window.orderBy("trip_date"))
    )
    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    train_df = assembler.transform(indexed.where(F.col("__idx") <= split))
    test_df = assembler.transform(indexed.where(F.col("__idx") > split))
    rf = RandomForestRegressor(
        featuresCol="features",
        labelCol=TARGET,
        numTrees=200,
        minInstancesPerNode=2,
        seed=42,
    )
    model = rf.fit(train_df)
    pred = model.transform(test_df)
    mae_row = pred.agg(
        F.avg(F.abs(F.col("prediction") - F.col(TARGET))).alias("mae")
    ).collect()[0]
    return TrainResult(model, float(mae_row.mae or 0.0), split, n - split)


def forecast_7day(spark: SparkSession, features: DataFrame, model) -> DataFrame:
    """Recursive 7-day forecast: lag7←lag1, lag1←prediction each step
    (`dags/fare_forecasting_dag.py:58-82`).

    Two collects fetch the last feature row and the trailing fares; the
    7 steps then run on the driver with ``model.predict`` on one dense
    vector each, as the reference's sklearn loop does.  No step fires a
    Spark job or ships the model; the prediction is the one a one-row
    ``transform`` returns (the same tree walk on the same doubles).

    The 7 rows come back as a frame built from an Arrow table, which plans
    as a ``LocalTableScan``.  A frame built from a Python list plans as a
    scan over a Python RDD, and writing it forks Python workers."""
    from pyspark.ml.linalg import Vectors

    last = _prepare(features).orderBy(F.desc("trip_date")).limit(1).collect()[0]
    state = {c: float(last[c]) for c in FEATURE_COLS}
    # trailing window of actual fares for the MA7 roll-forward
    tail = [
        float(r[TARGET])
        for r in features.orderBy(F.desc("trip_date")).limit(7).collect()
    ][::-1]
    dates, preds = [], []
    cur_date = last["trip_date"]
    for step in range(1, 8):
        cur_date = cur_date + timedelta(days=1)
        dow_weekend = cur_date.weekday() in (5, 6)  # E17 numbering
        state["weekend_trip_count"] = state["trip_count"] if dow_weekend else 0.0
        state["weekday_trip_count"] = 0.0 if dow_weekend else state["trip_count"]
        pred = float(model.predict(Vectors.dense([state[c] for c in FEATURE_COLS])))
        dates.append(cur_date)
        preds.append(pred)
        # roll features forward
        state["avg_fare_lag7"] = state["avg_fare_lag1"]
        state["avg_fare_lag1"] = pred
        tail = (tail + [pred])[-7:]
        state["avg_fare_ma7"] = sum(tail) / len(tail)
    table = pa.table(
        {
            "forecast_date": dates,
            "predicted_avg_fare": preds,
            "model_version": [MODEL_VERSION] * len(dates),
        }
    )
    return spark.createDataFrame(
        table, "forecast_date date, predicted_avg_fare double, model_version string"
    )


def eval_frame(pred: DataFrame) -> DataFrame:
    """The FORECAST_EVAL relation (`dags/Forecast_evaluation.py:61-86`):
    per-day rows carrying the SIGNED error (actual − predicted) and the
    per-day MAPE fraction |error/actual|, plus one summary row whose
    `error` is the MAE and whose `mape` is the mean per-day MAPE.

    `pred` supplies (eval_date, actual_fare, predicted_fare); the predictor
    is a parameter precisely so the frame itself is oracle-gateable — feed
    it the RF (library-specific numbers, test-verified) or a pinned
    deterministic baseline (relational, driver-gated as `q_forecast_eval`).
    """
    err = F.col("actual_fare") - F.col("predicted_fare")
    per_day = pred.select(
        "eval_date",
        F.lit("day").alias("row_type"),
        "actual_fare",
        "predicted_fare",
        err.alias("error"),
        F.abs(err / F.col("actual_fare")).alias("mape"),
    )
    summary = pred.agg(
        F.lit(None).cast("date").alias("eval_date"),
        F.lit("summary").alias("row_type"),
        F.lit(None).cast("double").alias("actual_fare"),
        F.lit(None).cast("double").alias("predicted_fare"),
        F.avg(F.abs(err)).alias("error"),
        F.avg(F.abs(err / F.col("actual_fare"))).alias("mape"),
    )
    return per_day.unionByName(summary)


def hindcast_window(features: DataFrame) -> DataFrame:
    """The evaluation window: trailing 7 fully-populated feature days
    (`Forecast_evaluation.py:36-49` — `actual.tail(7)` after dropna)."""
    return _prepare(features).orderBy(F.desc("trip_date")).limit(7)


def hindcast_eval(features: DataFrame, model) -> DataFrame:
    """Re-predict the trailing 7 days with the trained model; FORECAST_EVAL
    shape via :func:`eval_frame`."""
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    pred = model.transform(
        assembler.transform(hindcast_window(features))
    ).select(
        F.col("trip_date").alias("eval_date"),
        F.col(TARGET).alias("actual_fare"),
        F.col("prediction").alias("predicted_fare"),
    )
    return eval_frame(pred)
