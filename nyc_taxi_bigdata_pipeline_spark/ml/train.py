"""GBT fare-prediction pipeline (ex05 parity, ``trainer.py:78-152``).

M1-M8: StringIndexer → OneHotEncoder → VectorAssembler →
GBTRegressor(maxDepth=6, maxIter=50, seed=42), evaluated with
RMSE/MAE/R² in one aggregate pass. The reference's per-column
indexer/encoder pairs are one multi-column StringIndexer and one
multi-column OneHotEncoder here: the same ``<col>_idx``/``<col>_ohe``
columns and labels, but one label-count pass at fit time instead of one
per column, and a 4-stage model for the registry to save instead of 14.
The encoder stack sits behind ``build_pipeline`` so a hash/target
encoder can replace OHE at 100-TB cardinalities (SURVEY §7.4).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame, Observation

from ..schema import ML_CATEGORICAL, ML_LABEL, ML_NUMERIC

SEED = 42
GBT_MAX_DEPTH = 6
GBT_MAX_ITER = 50


def build_pipeline(
    categorical: tuple[str, ...] = ML_CATEGORICAL,
    numeric: tuple[str, ...] = ML_NUMERIC,
    label: str = ML_LABEL,
    max_depth: int = GBT_MAX_DEPTH,
    max_iter: int = GBT_MAX_ITER,
) -> Pipeline:
    indexer = StringIndexer(
        inputCols=list(categorical),
        outputCols=[f"{c}_idx" for c in categorical],
        handleInvalid="keep",
    )
    encoder = OneHotEncoder(
        inputCols=[f"{c}_idx" for c in categorical],
        outputCols=[f"{c}_ohe" for c in categorical],
    )
    assembler = VectorAssembler(
        inputCols=[f"{c}_ohe" for c in categorical] + list(numeric),
        outputCol="features",
        handleInvalid="keep",
    )
    gbt = GBTRegressor(
        featuresCol="features",
        labelCol=label,
        maxDepth=max_depth,
        maxIter=max_iter,
        seed=SEED,
    )
    return Pipeline(stages=[indexer, encoder, assembler, gbt])


@dataclass
class TrainResult:
    model: PipelineModel
    metrics: dict[str, float]
    train_rows: int
    test_rows: int
    train_seconds: float


def evaluate(model: PipelineModel, test_df: DataFrame, label: str = ML_LABEL) -> dict[str, float]:
    """M8: rmse/mae/r2 (trainer.py:128-152) from one scoring pass, with
    ``RegressionEvaluator``'s formulas: rmse = √(SSE/n), mae = SAE/n,
    r2 = 1 − SSE/((n−1)·var_samp(label))."""
    err = F.col(label).cast("double") - F.col("prediction")
    n, sse, sae, var = model.transform(test_df).agg(
        F.count("*"), F.sum(err * err), F.sum(F.abs(err)),
        F.var_samp(F.col(label).cast("double")),
    ).first()
    return {"rmse": math.sqrt(sse / n), "mae": sae / n, "r2": 1 - sse / ((n - 1) * var)}


def train_and_evaluate(
    train_df: DataFrame,
    test_df: DataFrame,
    pipeline: Pipeline | None = None,
) -> TrainResult:
    """M5+M9: cache the train split, fit, evaluate (trainer.py:109,186-212).

    The train split is cached and counted up front: the fit reads it
    several times, and the GBT's reads are RDD actions, which fire no
    observation.
    The test split is read once, by ``evaluate``'s aggregate, so it is
    neither cached nor counted on its own; its rows are observed on
    that aggregate's job."""
    pipeline = pipeline or build_pipeline()
    train_df = train_df.cache()
    try:
        train_rows = train_df.count()
        t0 = time.perf_counter()
        model = pipeline.fit(train_df)
        train_seconds = time.perf_counter() - t0
        seen = Observation()
        metrics = evaluate(model, test_df.observe(seen, F.count(F.lit(1)).alias("n")))
        return TrainResult(model, metrics, train_rows, seen.get["n"], train_seconds)
    finally:
        train_df.unpersist()
