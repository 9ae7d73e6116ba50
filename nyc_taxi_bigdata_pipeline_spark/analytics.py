"""Gold-layer analytical queries (ex04 parity).

The reference's Streamlit dashboard runs 5 SQL shapes against Postgres
(``app.py:239-418``) plus EDA profiling (``ex04_eda.ipynb``); here each
is a parameterized DataFrame function over the star schema, with the
same filter surface (date range BETWEEN, payment/borough/zone IN-lists —
P9/P10). Catalyst replaces the Postgres planner; all dims broadcast.

The per-day and per-hour series sort inside one partition
(``coalesce(1).sortWithinPartitions``) rather than with a global
``orderBy``: their result is one row per day or hour by construction,
so one partition holds it at any scale, while a global sort
range-partitions its input (a sampling job plus a sort shuffle) to
order at most a few hundred rows. The partial aggregate and its shuffle
stay parallel; only the final merge runs in one task.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast


@dataclass
class TripFilters:
    """The dashboard's widget state (app.py:161-224)."""

    date_from: str | None = None
    date_to: str | None = None
    payment_descriptions: list[str] = field(default_factory=list)
    boroughs: list[str] = field(default_factory=list)
    zones: list[str] = field(default_factory=list)


def _enriched(fact: DataFrame, dims: dict[str, DataFrame], flt: TripFilters) -> DataFrame:
    """fact ⋈ broadcast dims + filter pushdown. Joins are added only when
    a filter (or caller) needs the dim, keeping unfiltered plans join-free."""
    df = fact
    if flt.date_from:
        df = df.filter(F.col("pickup_date") >= flt.date_from)
    if flt.date_to:
        df = df.filter(F.col("pickup_date") <= flt.date_to)
    if flt.payment_descriptions:
        pay = dims["dim_payment_type"].filter(
            F.col("payment_description").isin(flt.payment_descriptions)
        )
        df = df.join(broadcast(pay), "payment_type_id")
    if flt.boroughs or flt.zones:
        loc = dims["dim_location"]
        if flt.boroughs:
            loc = loc.filter(F.col("borough").isin(flt.boroughs))
        if flt.zones:
            loc = loc.filter(F.col("zone").isin(flt.zones))
        df = df.join(
            broadcast(loc), df["pickup_location_id"] == loc["location_id"]
        )
    return df


def kpis(fact: DataFrame, dims: dict[str, DataFrame], flt: TripFilters | None = None) -> DataFrame:
    """A1 KPI scalar aggregates (app.py:239-252)."""
    df = _enriched(fact, dims, flt or TripFilters())
    return df.agg(
        F.count("*").alias("total_trips"),
        F.sum("total_amount").alias("total_revenue"),
        F.avg("total_amount").alias("avg_amount"),
        F.avg("trip_distance").alias("avg_distance"),
    )


def date_bounds(fact: DataFrame) -> DataFrame:
    """A2 min/max pickup_date for the date widget (app.py:151-156)."""
    return fact.agg(
        F.min("pickup_date").alias("min_date"), F.max("pickup_date").alias("max_date")
    )


def daily_trips(fact: DataFrame, dims: dict[str, DataFrame], flt: TripFilters | None = None) -> DataFrame:
    """A3 trips per day (app.py:287-300)."""
    df = _enriched(fact, dims, flt or TripFilters())
    return (
        df.groupBy("pickup_date")
        .agg(F.count("*").alias("trips"), F.sum("total_amount").alias("revenue"))
        .coalesce(1)
        .sortWithinPartitions("pickup_date")
    )


def hourly_trips(fact: DataFrame, dims: dict[str, DataFrame], flt: TripFilters | None = None) -> DataFrame:
    """A4 trips per hour-of-day (app.py:330-344). The reference joins
    dim_time for this; ``hour()`` on the time key is join-free (J3
    short-circuit, SURVEY §2.4)."""
    df = _enriched(fact, dims, flt or TripFilters())
    hr = F.substring("pickup_time", 1, 2).cast("int").alias("hour")
    return (
        df.groupBy(hr).agg(F.count("*").alias("trips"))
        .coalesce(1)
        .sortWithinPartitions("hour")
    )


def payment_breakdown(
    fact: DataFrame, dims: dict[str, DataFrame], flt: TripFilters | None = None
) -> DataFrame:
    """A6 trips + revenue per payment description (app.py:368-380)."""
    df = _enriched(fact, dims, flt or TripFilters())
    if "payment_description" not in df.columns:
        df = df.join(broadcast(dims["dim_payment_type"]), "payment_type_id", "left")
    return df.groupBy("payment_description").agg(
        F.count("*").alias("trips"), F.sum("total_amount").alias("revenue")
    )


def top_zones(
    fact: DataFrame,
    dims: dict[str, DataFrame],
    flt: TripFilters | None = None,
    k: int = 10,
) -> DataFrame:
    """A7/O2 top-k (borough, zone) by trips (app.py:403-418), rank added
    via window (§2.5) instead of the reference's client-side pandas rank."""
    df = _enriched(fact, dims, flt or TripFilters())
    if "borough" not in df.columns:
        loc = dims["dim_location"]
        df = df.join(broadcast(loc), df["pickup_location_id"] == loc["location_id"])
    agg = df.groupBy("borough", "zone").agg(
        F.count("*").alias("trips"), F.sum("total_amount").alias("revenue")
    )
    return (
        agg.orderBy(F.desc("trips"), F.asc("borough"), F.asc("zone"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("trips"), F.asc("borough"), F.asc("zone"))
            ),
        )
    )


def eda_profile(df: DataFrame, numeric_cols: list[str]) -> DataFrame:
    """A14 pandas-describe parity (eda.py:41-47): count/mean/stddev/
    min/max/quartiles per numeric column via Spark's summary() —
    distributed, no pandas materialization."""
    return df.select(*numeric_cols).summary(
        "count", "mean", "stddev", "min", "25%", "50%", "75%", "max"
    )


def null_rate_profile(df: DataFrame) -> DataFrame:
    """A14 isna().mean() parity: per-column null fraction."""
    return df.agg(
        *[
            F.avg(F.col(c).isNull().cast("int")).alias(f"null_rate_{c}")
            for c in df.columns
        ]
    )


def null_profile(df: DataFrame) -> DataFrame:
    """A9 per-column null counts (EDA notebook cell 5)."""
    return df.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
            for c in df.columns
        ]
    )


def negative_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """A10 negative-value counts (EDA notebook cell 7)."""
    return df.agg(
        *[
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).alias(f"neg_{c}")
            for c in cols
        ]
    )
