"""Bronze→silver ingestion: cast-normalize + month-window + quality
filters, partitioned idempotent writes.

Reference parity: ``Ex02DataIngestion.scala`` (the core monthly ETL,
SURVEY §3.1) re-expressed as one declarative DataFrame chain. The
reference's manual ``yellow/YYYY/MM/`` path construction becomes Hive
partitioning (``partitionBy(year, month)`` + dynamic partition
overwrite) so Catalyst prunes partitions from filters automatically
(SURVEY §1.4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .functions.datetime_parity import month_window
from .schema import TRIPS_RAW_COLUMNS

PICKUP = "tpep_pickup_datetime"
DROPOFF = "tpep_dropoff_datetime"


def normalize_types(df: DataFrame) -> DataFrame:
    """P1: defensive re-cast of all 19 columns to canonical types
    (Ex02DataIngestion.scala:50-68); tolerates type drift and missing
    columns (missing → typed NULL)."""
    cols = []
    for name, typ in TRIPS_RAW_COLUMNS.items():
        src = F.col(name) if name in df.columns else F.lit(None)
        cols.append(src.cast(typ).alias(name))
    return df.select(*cols)


def month_filter(df: DataFrame, year: int, month: int) -> DataFrame:
    """P3: strict [month-start, next-month-start) pickup window
    (Ex02DataIngestion.scala:72-77) — also the late/out-of-month data
    policy (SURVEY §2.9)."""
    start, end = month_window(year, month)
    return df.filter(
        (F.col(PICKUP) >= F.to_timestamp(F.lit(start)))
        & (F.col(PICKUP) < F.to_timestamp(F.lit(end)))
    )


def quality_filter(df: DataFrame) -> DataFrame:
    """P4+P5: null-rejection on criticals, non-negative domains
    (Ex02DataIngestion.scala:76,81-87)."""
    return df.filter(
        F.col(PICKUP).isNotNull()
        & F.col(DROPOFF).isNotNull()
        & F.col("PULocationID").isNotNull()
        & F.col("DOLocationID").isNotNull()
        & (F.col("trip_distance") >= 0)
        & (F.col("total_amount") >= 0)
        & (F.col("passenger_count").isNull() | (F.col("passenger_count") >= 0))
    )


def clean_month(df: DataFrame, year: int, month: int) -> DataFrame:
    """The ex02 cleaning chain: normalize → month window → quality."""
    return quality_filter(month_filter(normalize_types(df), year, month))


def write_silver(df: DataFrame, path: str, year: int, month: int) -> None:
    """S5: month-scoped idempotent overwrite. With dynamic partition
    overwrite only the (year, month) partitions present in ``df`` are
    replaced — re-running a month is idempotent, other months untouched
    (Ex02DataIngestion.scala:116-118 without the manual path math)."""
    (
        df.withColumn("year", F.lit(year))
        .withColumn("month", F.lit(month))
        .repartition("year", "month")
        .write.mode("overwrite")
        # Writer-level option so month-scoped overwrite stays dynamic even on
        # a caller-provided session that lacks the BUILD_CONFS session conf
        # (the driver hands entry() its own SparkSession).
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )


def read_silver(spark: SparkSession, path: str, months: list[tuple[int, int]] | None = None) -> DataFrame:
    """S3: multi-month read via partition pruning instead of the
    reference's explicit path lists (spark_io.py:71-135)."""
    df = spark.read.parquet(path)
    if months:
        cond = None
        for y, m in months:
            c = (F.col("year") == y) & (F.col("month") == m)
            cond = c if cond is None else (cond | c)
        df = df.filter(cond)
    return df


def ingest_month(
    spark: SparkSession,
    raw_df: DataFrame,
    silver_path: str,
    year: int,
    month: int,
) -> dict[str, int]:
    """One month of ex02: clean + write + retention counts.

    Returns {'rows_in', 'rows_out'} for the quality layer's retention
    gate (full_pipeline_dag.py:130-181). Both counts are observed on
    the single silver write, so the raw rows are read once; the
    reference instead persists the cleaned frame and counts it before
    writing (Ex02DataIngestion.scala:111).
    """
    seen_in, seen_out = Observation(), Observation()
    rows = F.count(F.lit(1)).alias("n")
    cleaned = clean_month(raw_df.observe(seen_in, rows), year, month)
    write_silver(cleaned.observe(seen_out, rows), silver_path, year, month)
    return {"rows_in": seen_in.get["n"], "rows_out": seen_out.get["n"]}
