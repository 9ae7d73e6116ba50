"""Silver→gold star schema (ex03 parity, ``dw_creation.sql`` +
``dw_load_incremental.sql`` re-expressed Spark-native).

The Postgres DW becomes append-only Spark gold tables: enum dims and
the generated ``dim_time`` seeded once, ``dim_location`` (union-distinct
of observed ids) and ``dim_date`` appended insert-if-absent each month,
and ``fact_trip`` built with date/time keys and appended through the
composite-natural-key idempotent load.

All dims are broadcast-sized (7–265 rows, dim_date ≤ a few thousand,
dim_time ≤ 1440) — every fact→dim join in analytics broadcasts.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from .functions.datetime_parity import dow_pg, time_key
from .operators.upsert import insert_if_absent, union_distinct_keys
from .schema import (
    FACT_NATURAL_KEY,
    PAYMENT_TYPES,
    RATECODES,
    VENDORS,
)

PICKUP = "tpep_pickup_datetime"


# ------------------------------------------------------------- enum dims


def seed_enum_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """Reference enum dimensions (dw_load_reference.sql:1-29). Built from
    pandas so the rows travel as Arrow: a ``createDataFrame(list)`` runs
    through a Python RDD and forks the Python worker pool."""
    return {
        "dim_payment_type": spark.createDataFrame(
            pd.DataFrame(PAYMENT_TYPES), "payment_type_id int, payment_description string"
        ),
        "dim_ratecode": spark.createDataFrame(
            pd.DataFrame(RATECODES), "ratecode_id int, ratecode_description string"
        ),
        "dim_vendor": spark.createDataFrame(
            pd.DataFrame(VENDORS), "vendor_id int, vendor_name string"
        ),
    }


# -------------------------------------------------------- derived dims


def build_dim_date(trips: DataFrame) -> DataFrame:
    """dim_date from observed pickup dates (dw_load_incremental.sql:34-42);
    day_of_week uses the Postgres 0=Sunday convention."""
    d = F.to_date(PICKUP)
    return (
        trips.select(d.alias("date_id"))
        .distinct()
        .select(
            "date_id",
            F.year("date_id").alias("year"),
            F.month("date_id").alias("month"),
            F.dayofmonth("date_id").alias("day"),
            dow_pg(F.col("date_id")),
        )
    )


def build_dim_time(spark: SparkSession) -> DataFrame:
    """dim_time as the full generated 1440-minute day (SURVEY §7.3) —
    no scan needed; 'HH:mm' string key replaces Postgres TIME."""
    return spark.range(1440).select(
        F.format_string(
            "%02d:%02d", (F.col("id") / 60).cast("int"), (F.col("id") % 60).cast("int")
        ).alias("time_id"),
        (F.col("id") / 60).cast("int").alias("hour"),
        (F.col("id") % 60).cast("int").alias("minute"),
    )


def build_dim_location(zone_lookup: DataFrame, trips: DataFrame | None = None) -> DataFrame:
    """dim_location from the 265-row zone CSV, plus any trip location ids
    missing from the lookup (union-distinct of PU∪DO, J5) mapped to
    Unknown — mirrors the insert-if-absent seeding of
    dw_load_incremental.sql:22-32."""
    base = zone_lookup.select(
        F.col("LocationID").cast("int").alias("location_id"),
        F.col("Borough").alias("borough"),
        F.col("Zone").alias("zone"),
        F.col("service_zone"),
    )
    if trips is None:
        return base
    observed = union_distinct_keys(
        [trips.select("PULocationID"), trips.select("DOLocationID")], "location_id"
    ).filter(F.col("location_id").isNotNull())
    missing = observed.join(base, "location_id", "left_anti").select(
        "location_id",
        F.lit("Unknown").alias("borough"),
        F.lit("Unknown").alias("zone"),
        F.lit("N/A").alias("service_zone"),
    )
    return base.unionByName(missing)


# ------------------------------------------------------------------ fact


def build_fact(trips_clean: DataFrame) -> DataFrame:
    """fact_trip projection with date/time surrogate keys
    (insertion.sql:56-76 semantics): trip_id via
    monotonically_increasing_id (BIGSERIAL parity, SURVEY §1.2)."""
    return trips_clean.select(
        F.monotonically_increasing_id().alias("trip_id"),
        F.to_date(PICKUP).alias("pickup_date"),
        time_key(PICKUP).alias("pickup_time"),
        F.col("PULocationID").alias("pickup_location_id"),
        F.col("DOLocationID").alias("dropoff_location_id"),
        F.col("VendorID").alias("vendor_id"),
        F.col("payment_type").alias("payment_type_id"),
        F.col("RatecodeID").alias("ratecode_id"),
        F.col("passenger_count"),
        F.col("trip_distance"),
        F.col("fare_amount"),
        F.col("extra"),
        F.col("mta_tax"),
        F.col("tip_amount"),
        F.col("tolls_amount"),
        F.col("improvement_surcharge"),
        F.col("congestion_surcharge"),
        F.col("airport_fee"),
        F.col("total_amount"),
    )


def load_fact_idempotent(incoming_fact: DataFrame, fact_path: str, prune: Column | None = None) -> None:
    """J6: ON CONFLICT DO NOTHING on the composite natural key
    (indexes.sql:30-37): append to ``fact_path`` only the rows whose
    key it lacks. ``pipeline.run_month`` prunes the existing fact to
    the month's ``pickup_date`` range (the key holds ``pickup_date``),
    so parquet statistics skip other months' files and the anti join
    stays O(month), not O(history)."""
    insert_if_absent(incoming_fact, fact_path, FACT_NATURAL_KEY, prune)
