"""ML layer tests (ex05 parity): features, GBT train/eval, registry
promotion rule, error analysis. Small data + reduced maxIter for speed;
the quality thresholds mirror test_ml_quality.py:18-21 of the reference
(RMSE < 10, R² > 0, MAE < 15) on the synthetic fare function.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark import ingest
from nyc_taxi_bigdata_pipeline_spark.ml import errors, features, train
from nyc_taxi_bigdata_pipeline_spark.ml.registry import ModelRegistry, improves_2_of_3

from .taxi_fixtures import make_trips_month


@pytest.fixture(scope="module")
def feature_frames(spark):
    tr = features.build_feature_table(
        ingest.clean_month(make_trips_month(spark, 2023, 1, n=1500), 2023, 1)
    ).cache()
    te = features.build_feature_table(
        ingest.clean_month(make_trips_month(spark, 2023, 2, n=500), 2023, 2)
    ).cache()
    return tr, te


def test_feature_table_shape(feature_frames):
    tr, _ = feature_frames
    cols = set(tr.columns)
    assert {"trip_duration_min", "pickup_hour", "pickup_dayofweek", "pickup_month"} <= cols
    assert "fare_amount" not in cols and "tip_amount" not in cols  # anti-leakage
    assert tr.filter(F.col("trip_duration_min") <= 0).count() == 0
    assert tr.filter(F.col("trip_duration_min") >= 24 * 60).count() == 0


@pytest.fixture(scope="module")
def trained(feature_frames):
    tr, te = feature_frames
    return train.train_and_evaluate(tr, te, train.build_pipeline(max_iter=10))


def test_train_and_evaluate(trained, feature_frames):
    m = trained.metrics
    assert m["rmse"] < 10 and m["mae"] < 15 and m["r2"] > 0  # reference gates
    assert m["mae"] <= m["rmse"] + 1e-9  # consistency (test_ml_quality.py:205-221)
    tr, te = feature_frames
    # test_rows is observed on evaluate's aggregate, not counted apart
    assert (trained.train_rows, trained.test_rows) == (tr.count(), te.count())


def test_evaluate_matches_regression_evaluator(trained, feature_frames):
    """The one-pass metrics equal RegressionEvaluator's three passes."""
    import math

    from pyspark.ml.evaluation import RegressionEvaluator

    from nyc_taxi_bigdata_pipeline_spark.schema import ML_LABEL

    _, te = feature_frames
    preds = trained.model.transform(te)
    got = train.evaluate(trained.model, te)
    for metric in ("rmse", "mae", "r2"):
        want = RegressionEvaluator(
            labelCol=ML_LABEL, predictionCol="prediction", metricName=metric
        ).evaluate(preds)
        assert math.isclose(got[metric], want, rel_tol=1e-9), metric


def test_multi_column_encoders_match_per_column_stack(feature_frames):
    """build_pipeline's one multi-column StringIndexer + OneHotEncoder
    must give the labels and model metrics of the reference's per-column
    stack (6× StringIndexer → 6× OneHotEncoder)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer

    from nyc_taxi_bigdata_pipeline_spark.schema import ML_CATEGORICAL

    tr, te = feature_frames
    new = train.build_pipeline(max_iter=2)
    assert len(new.getStages()) == 4
    assembler, gbt = new.getStages()[2:]
    per_column = Pipeline(stages=[
        *[StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
          for c in ML_CATEGORICAL],
        *[OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_ohe") for c in ML_CATEGORICAL],
        assembler,
        gbt,
    ])
    new_model, old_model = new.fit(tr), per_column.fit(tr)
    n = len(ML_CATEGORICAL)
    assert [list(a) for a in new_model.stages[0].labelsArray] == [
        old_model.stages[i].labels for i in range(n)
    ]
    assert train.evaluate(new_model, te) == train.evaluate(old_model, te)


def test_predictions_plausible(trained, feature_frames):
    _, te = feature_frames
    preds = trained.model.transform(te)
    bad = preds.filter(
        F.col("prediction").isNull()
        | F.isnan("prediction")
        | (F.col("prediction") < -50)
        | (F.col("prediction") > 500)
    ).count()
    assert bad == 0  # test_ml_plausibility.py:15-18 bounds


def test_single_row_inference(spark, trained, feature_frames):
    _, te = feature_frames
    one = te.limit(1)
    out = trained.model.transform(one).select("prediction").first()
    assert out[0] is not None


def test_promotion_rule():
    cur = {"rmse": 5.0, "mae": 2.0, "r2": 0.9}
    assert improves_2_of_3({"rmse": 4.0, "mae": 1.5, "r2": 0.95}, cur)  # 3 of 3
    assert improves_2_of_3({"rmse": 4.0, "mae": 1.5, "r2": 0.8}, cur)  # 2 of 3
    assert not improves_2_of_3({"rmse": 4.0, "mae": 2.5, "r2": 0.8}, cur)  # 1 of 3
    assert not improves_2_of_3({"rmse": 6.0, "mae": 2.5, "r2": 0.8}, cur)  # 0 of 3


def test_registry_lifecycle(tmp_path, trained):
    reg = ModelRegistry(tmp_path / "registry")
    reg.register_candidate(trained.model, trained.metrics, "2023-02")
    assert reg.promote_or_discard(trained.metrics, "2023-02") == "promoted"
    assert reg.current_metrics == trained.metrics
    # a strictly worse candidate is discarded
    worse = {k: (v + 5 if k != "r2" else v - 0.5) for k, v in trained.metrics.items()}
    reg.register_candidate(trained.model, worse, "2023-03")
    assert reg.promote_or_discard(worse, "2023-03") == "discarded"
    assert reg.current_metrics == trained.metrics
    loaded = reg.load_current()
    assert loaded.stages  # model round-trips


def test_error_analysis(trained, feature_frames):
    _, te = feature_frames
    resid = errors.with_residuals(trained.model.transform(te)).cache()
    summary = errors.error_summary(resid).first()
    assert summary["n"] == resid.count()
    assert summary["n_under"] + summary["n_over"] <= summary["n"]
    assert len(summary["percentiles"]) == 5
    buckets = errors.bucket_errors(resid).collect()
    assert {b["price_bucket"] for b in buckets} <= {"low", "medium", "high", "very_high"}
    for b in buckets:
        assert b["mae"] <= b["rmse"] + 1e-9
    top = errors.top_errors(resid, n=5).collect()
    assert len(top) == 5
    abs_errs = [r["abs_error"] for r in top]
    assert abs_errs == sorted(abs_errs, reverse=True)
    assert all(r["likely_cause"] is not None for r in top)
