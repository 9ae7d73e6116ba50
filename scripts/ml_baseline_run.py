"""Full-hyperparameter ML baseline run (ex05 parity artifacts).

Trains the fare-prediction GBT with the reference's exact configuration
(maxDepth=6, maxIter=50, seed=42, 3 train months → 1 test month) on
deterministic synthetic taxi months, then writes the same three report
artifacts the reference publishes (train_metrics.json,
error_summary.json, predict_report.json) into reports/ for comparison
against BASELINE.md.

Months come from the JVM-side portable generator
(``sources/synthetic.make_trips_month_portable``), so multi-million-row
runs need no driver materialization.

Usage: python scripts/ml_baseline_run.py [--rows-per-month N] [--max-iter N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_bigdata_pipeline_spark import ingest
from nyc_taxi_bigdata_pipeline_spark.ml import errors, features, predict, train
from nyc_taxi_bigdata_pipeline_spark.session import get_spark
from nyc_taxi_bigdata_pipeline_spark.sources.reports import df_to_report, write_json_report
from nyc_taxi_bigdata_pipeline_spark.sources.synthetic import make_trips_month_portable


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-month", type=int, default=30000)
    ap.add_argument("--max-iter", type=int, default=train.GBT_MAX_ITER)
    ap.add_argument("--out-dir", default="reports")
    args = ap.parse_args()

    spark = get_spark("ml-baseline")
    t_gen = time.perf_counter()
    months = {
        m: features.build_feature_table(ingest.clean_month(
            make_trips_month_portable(spark, 2023, m, args.rows_per_month), 2023, m
        ))
        for m in (1, 2, 3, 4)
    }
    train_df = months[1].unionByName(months[2]).unionByName(months[3])
    test_df = months[4]
    gen_s = time.perf_counter() - t_gen

    result = train.train_and_evaluate(
        train_df, test_df, train.build_pipeline(max_iter=args.max_iter)
    )
    write_json_report(
        {
            "model": "GBTRegressor",
            "config": {
                "maxDepth": train.GBT_MAX_DEPTH,
                "maxIter": args.max_iter,
                "seed": train.SEED,
                "train_months": ["2023-01", "2023-02", "2023-03"],
                "test_month": "2023-04",
            },
            "train_rows": result.train_rows,
            "test_rows": result.test_rows,
            "metrics": {k: round(v, 4) for k, v in result.metrics.items()},
            "train_seconds": round(result.train_seconds, 2),
            "train_rows_per_sec": round(result.train_rows / result.train_seconds, 1),
            "fixture_gen_seconds": round(gen_s, 2),
            "note": (
                "deterministic synthetic months "
                "(sources/synthetic.make_trips_month_portable, seed 42)"
            ),
        },
        f"{args.out_dir}/train_metrics.json",
    )

    preds, score_report = predict.score_batch(result.model, test_df, with_label=True)
    write_json_report(score_report, f"{args.out_dir}/predict_report.json")

    resid = errors.with_residuals(preds).cache()
    summary = df_to_report(errors.error_summary(resid))[0]
    buckets = df_to_report(errors.bucket_errors(resid))
    write_json_report(
        {"summary": summary, "price_buckets": buckets},
        f"{args.out_dir}/error_summary.json",
    )
    resid.unpersist()

    print(
        {
            "metrics": result.metrics,
            "train_seconds": result.train_seconds,
            "score": score_report,
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
