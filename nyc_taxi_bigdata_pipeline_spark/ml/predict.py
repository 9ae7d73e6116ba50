"""Batch scoring (ex05 parity, ``predict.py``): validate → transform →
plausibility-check → report.

The reference scores 2.8M rows at ≈43k rows/s on its 2-worker cluster
(BASELINE.md); this path is a single ``model.transform`` over the
feature table — MLlib vectorization + codegen, no driver round-trips —
plus the sampled pre-flight schema validation the reference runs
(``predict.py:29-35``).
"""

from __future__ import annotations

import time
from typing import Any

import pyspark.sql.functions as F
from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame

from ..quality import schema_check

PLAUSIBLE_MIN = -50.0   # test_ml_plausibility.py:15-18
PLAUSIBLE_MAX = 500.0


def score_batch(
    model: PipelineModel,
    features: DataFrame,
    with_label: bool = False,
) -> tuple[DataFrame, dict[str, Any]]:
    """Score a feature frame; returns (predictions, report).

    The report mirrors the reference's predict_report.json: row count,
    wall seconds, rows/s, and plausibility-violation counts (computed in
    the same pass as the count via conditional aggregation).
    """
    chk = schema_check(features, "train" if with_label else "infer")
    if not chk.ok:
        raise ValueError(f"schema validation failed: {chk.detail}")

    t0 = time.perf_counter()
    preds = model.transform(features)
    stats = preds.agg(
        F.count("*").alias("rows"),
        F.sum(
            F.when(
                F.col("prediction").isNull()
                | F.isnan("prediction")
                | (F.col("prediction") < PLAUSIBLE_MIN)
                | (F.col("prediction") > PLAUSIBLE_MAX),
                1,
            ).otherwise(0)
        ).alias("implausible"),
    ).first()
    wall = time.perf_counter() - t0
    report = {
        "rows": stats["rows"],
        "seconds": round(wall, 2),
        "rows_per_sec": round(stats["rows"] / wall, 1) if wall > 0 else None,
        "implausible": stats["implausible"],
        "plausible_bounds": [PLAUSIBLE_MIN, PLAUSIBLE_MAX],
    }
    return preds, report


def score_single(model: PipelineModel, row_df: DataFrame) -> float:
    """M12 single-row inference (ex05 streamlit_app/app.py:470-514)."""
    out = model.transform(row_df).select("prediction").first()
    return float(out["prediction"])
