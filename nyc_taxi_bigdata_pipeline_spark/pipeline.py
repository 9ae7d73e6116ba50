"""Monthly orchestration (ex06 parity): run_month = ingest → warehouse →
quality gates → (ML when eligible), with backfill as a driver-side loop.

The Airflow DAG's task graph (full_pipeline_dag.py:82-594) collapses
into one function per month; SLAs/retries belong to whatever scheduler
invokes this, the data logic lives here.

The gold zone is append-only: new fact rows and dim keys go through
``operators/upsert.insert_if_absent``; constant dims are written once.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import ingest, quality, warehouse
from .functions.datetime_parity import month_window, sliding_months
from .operators.upsert import insert_if_absent
from .sources.fs import hadoop_path_exists
from .ml.features import build_feature_table
from .ml.registry import ModelRegistry
from .ml.train import TrainResult, train_and_evaluate

CONSTANT_DIMS = ("dim_payment_type", "dim_ratecode", "dim_vendor", "dim_time")


@dataclass
class MonthRunResult:
    year: int
    month: int
    counts: dict[str, int] = field(default_factory=dict)
    checks: list[quality.CheckResult] = field(default_factory=list)
    ml: TrainResult | None = None
    ml_decision: str | None = None

    @property
    def ok(self) -> bool:
        return all(c.ok for c in self.checks)


def run_month(
    spark: SparkSession,
    raw_df: DataFrame,
    zone_lookup: DataFrame,
    silver_path: str,
    gold_path: str,
    year: int,
    month: int,
    min_rows: int = quality.MIN_ROWCOUNT,
) -> MonthRunResult:
    """EX01→EX03 for one month: clean, write silver partition, build/extend
    the star schema with the idempotent fact load, evaluate gates."""
    res = MonthRunResult(year, month)

    counts = ingest.ingest_month(spark, raw_df, silver_path, year, month)
    res.counts.update(counts)
    res.checks.append(
        quality.retention_check(counts["rows_in"], counts["rows_out"], "ingest")
    )
    res.checks.append(quality.min_rowcount_check(counts["rows_out"], "silver", min_rows))

    clean = ingest.read_silver(spark, silver_path, [(year, month)])
    gold = Path(gold_path)
    fact_path = str(gold / "fact_trip")
    # clean_month keeps only in-month pickups and pickup_date is part of
    # the natural key, so no other month's row can match
    start, end = month_window(year, month)
    warehouse.load_fact_idempotent(
        warehouse.build_fact(clean), fact_path,
        (F.col("pickup_date") >= F.lit(start).cast("date"))
        & (F.col("pickup_date") < F.lit(end).cast("date")),
    )

    fact = spark.read.parquet(fact_path)
    res.counts["fact_rows"] = fact.count()
    res.checks.append(quality.min_rowcount_check(res.counts["fact_rows"], "fact", min_rows))

    # seeded once, as dw_load_reference.sql does: an append of nothing
    # would still add an empty file every month (S4 Hadoop FS probe)
    absent = [n for n in CONSTANT_DIMS if not hadoop_path_exists(spark, str(gold / n))]
    if absent:
        seeds = {**warehouse.seed_enum_dims(spark), "dim_time": warehouse.build_dim_time(spark)}
        for name in absent:
            seeds[name].write.parquet(str(gold / name))
    # dw_load_incremental.sql: keys only earlier months saw ('Unknown'
    # location ids, prior dates) stay for their facts' inner joins
    insert_if_absent(
        warehouse.build_dim_location(zone_lookup, clean),
        str(gold / "dim_location"), ["location_id"],
    )
    insert_if_absent(warehouse.build_dim_date(clean), str(gold / "dim_date"), ["date_id"])
    return res


def backfill(
    spark: SparkSession,
    month_frames: list[tuple[int, int, DataFrame]],
    zone_lookup: DataFrame,
    silver_path: str,
    gold_path: str,
    min_rows: int = quality.MIN_ROWCOUNT,
) -> list[MonthRunResult]:
    """Q7 backfill contract: months processed strictly in order, one at a
    time (max_active_runs=1 semantics), halting on a FAILed gate
    (full_pipeline_dag.py:82-94)."""
    results: list[MonthRunResult] = []
    for year, month, raw in sorted(month_frames, key=lambda t: (t[0], t[1])):
        res = run_month(
            spark, raw, zone_lookup, silver_path, gold_path, year, month, min_rows
        )
        results.append(res)
        if not res.ok:
            break
    return results


def run_ml_month(
    spark: SparkSession,
    silver_path: str,
    registry_root: str,
    year: int,
    month: int,
) -> tuple[TrainResult | None, str | None, list[quality.CheckResult]]:
    """EX05 for one month: sliding 3-month training window, test on the
    target month, register + promote-or-discard (Q4/Q5 gating)."""
    window = sliding_months(year, month, quality.ML_WINDOW_MONTHS)
    silver = ingest.read_silver(spark, silver_path)
    months_present = {
        (r["year"], r["month"])
        for r in silver.select("year", "month").distinct().collect()
    }
    train_months = [m for m in window if m in months_present]
    checks = [quality.ml_eligibility_check(len(train_months))]
    if (year, month) not in months_present:
        checks.append(quality.CheckResult("ml_test_month", "FAIL", f"{year}-{month} missing"))
    if not all(c.ok for c in checks):
        return None, None, checks

    train_df = build_feature_table(ingest.read_silver(spark, silver_path, train_months))
    test_df = build_feature_table(ingest.read_silver(spark, silver_path, [(year, month)]))
    checks.append(quality.schema_check(train_df, "train"))
    if not checks[-1].ok:
        return None, None, checks

    result = train_and_evaluate(train_df, test_df)
    reg = ModelRegistry(registry_root)
    tag = f"{year}-{month:02d}"
    reg.register_candidate(result.model, result.metrics, tag)
    decision = reg.promote_or_discard(result.metrics, tag)
    return result, decision, checks
