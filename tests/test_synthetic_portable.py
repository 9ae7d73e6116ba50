"""Pins for the oracle-portable trip generator (sources/synthetic.py):
row-level Spark↔DuckDB parity, the zero-natural-key-collision property
the taxi_domain_pipeline oracle relies on, and that its planted-dup
dedup demonstrably bites."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from nyc_taxi_bigdata_pipeline_spark import ingest, warehouse
from nyc_taxi_bigdata_pipeline_spark.operators.upsert import dedupe_on_key
from nyc_taxi_bigdata_pipeline_spark.schema import FACT_NATURAL_KEY
from nyc_taxi_bigdata_pipeline_spark.sources.synthetic import (
    make_trips_month_portable,
    portable_trips_duckdb_sql,
)

_EPOCH_2023_01_01 = 1672531200  # UTC — session tz pinned by get_spark


def _spark_rows(spark, n):
    raw = make_trips_month_portable(spark, 2023, 1, n)
    return (
        raw.select(
            "rid",
            (F.unix_timestamp("tpep_pickup_datetime") - _EPOCH_2023_01_01).alias(
                "pickup_s"
            ),
            (F.unix_timestamp("tpep_dropoff_datetime") - _EPOCH_2023_01_01).alias(
                "dropoff_s"
            ),
            "passenger_count",
            F.round(F.col("trip_distance") * 100).cast("long").alias("dist_c"),
            F.round(F.col("total_amount") * 100).cast("long").alias("total_c"),
            F.col("VendorID").alias("vendor_id"),
            F.col("PULocationID").alias("pu_id"),
            F.col("DOLocationID").alias("do_id"),
        )
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )


def test_portable_generator_row_parity(spark):
    """Every derived column must be bit-identical to the DuckDB twin —
    the property the taxi_domain_pipeline oracle stands on."""
    n = 2000
    sdf = _spark_rows(spark, n)
    odf = (
        duckdb.sql(portable_trips_duckdb_sql(2023, 1, n))
        .df()
        .sort_values("rid")
        .reset_index(drop=True)[list(sdf.columns)]
    )
    assert len(sdf) == len(odf) == n
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        eq = (a.isna() & b.isna()) | (a == b)
        assert eq.all(), f"{c}: first mismatch at rid {(~eq).idxmax()}"


def test_portable_generator_dirty_classes_present(spark):
    """All six dirty classes must materialize at n=5000 (a generator
    regression that silently stops planting dirt would leave the
    cleaning stage vacuously green)."""
    sdf = _spark_rows(spark, 5000)
    span = 31 * 86400
    assert (sdf.pickup_s.dropna() >= span).any()  # out-of-month spill
    assert sdf.pickup_s.isna().any() and sdf.dropoff_s.isna().any()
    assert (sdf.dist_c < 0).any() and (sdf.total_c < 0).any()
    assert sdf.passenger_count.isna().any()
    both = sdf.pickup_s.notna() & sdf.dropoff_s.notna()
    assert (sdf.dropoff_s[both] < sdf.pickup_s[both]).any()  # neg duration


def test_portable_fact_keys_collision_free(spark):
    """At (seed=42, n=5000) the CLEANED fact has zero natural-key
    collisions — the taxi_domain_pipeline oracle skips the dedup on
    this exact property (benchqueries/core._taxi_pipeline_oracle), so
    a generator change that introduces a collision must fail here, not
    surface as a silent hash mismatch."""
    raw = make_trips_month_portable(spark, 2023, 1, 5000)
    fact = warehouse.build_fact(ingest.clean_month(raw, 2023, 1))
    total = fact.count()
    distinct = fact.select(*FACT_NATURAL_KEY).distinct().count()
    assert total == distinct
    assert total > 4000  # cleaning keeps the bulk (≈2.8% of rows drop)


def test_taxi_pipeline_dedup_bites(spark):
    """The planted rid%97 duplicates must be removed by the natural-key
    idempotent load: fact count with planting == fact count without."""
    raw = make_trips_month_portable(spark, 2023, 1, 5000)
    planted = raw.unionByName(raw.filter(F.col("rid") % 97 == 0))
    base_n = warehouse.build_fact(ingest.clean_month(raw, 2023, 1)).count()
    clean = ingest.clean_month(planted, 2023, 1)
    pre_dedup = warehouse.build_fact(clean).count()
    deduped = dedupe_on_key(warehouse.build_fact(clean), FACT_NATURAL_KEY).count()
    assert pre_dedup > base_n  # planting survived cleaning
    assert deduped == base_n
