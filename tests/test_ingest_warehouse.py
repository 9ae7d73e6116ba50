"""Ingest + warehouse layer tests (ex02/ex03 parity) on synthetic taxi
fixtures, including idempotent re-runs and the anti-dup fact load."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from nyc_taxi_bigdata_pipeline_spark import ingest, warehouse
from nyc_taxi_bigdata_pipeline_spark.quality import retention_check

from .taxi_fixtures import make_trips_month, make_trips_month_drifted, make_zone_lookup


@pytest.fixture(scope="module")
def raw_month(spark):
    return make_trips_month(spark, 2023, 1, n=2000).cache()


def test_normalize_types_canonical(spark, raw_month):
    drifted = make_trips_month_drifted(spark, 2023, 1, n=200)
    norm = ingest.normalize_types(drifted)
    types = dict(norm.dtypes)
    assert types["airport_fee"] == "double"
    assert types["passenger_count"] == "int"
    assert len(norm.columns) == 19


def test_normalize_missing_column_becomes_null(spark, raw_month):
    partial = raw_month.drop("congestion_surcharge")
    norm = ingest.normalize_types(partial)
    assert norm.filter(F.col("congestion_surcharge").isNotNull()).count() == 0


def test_clean_month_filters(spark, raw_month):
    cleaned = ingest.clean_month(raw_month, 2023, 1)
    n_raw, n_clean = raw_month.count(), cleaned.count()
    # dirty quota ~6% → retention must clear the 90% WARN bar
    assert retention_check(n_raw, n_clean).status == "PASS"
    assert cleaned.filter(F.col("tpep_pickup_datetime").isNull()).count() == 0
    assert cleaned.filter(F.col("trip_distance") < 0).count() == 0
    assert cleaned.filter(F.month("tpep_pickup_datetime") != 1).count() == 0


def test_silver_roundtrip_and_partition_overwrite(spark, raw_month, tmp_path):
    silver = str(tmp_path / "silver")
    r1 = ingest.ingest_month(spark, raw_month, silver, 2023, 1)
    # re-run the same month: idempotent (dynamic partition overwrite)
    r2 = ingest.ingest_month(spark, raw_month, silver, 2023, 1)
    assert r1 == r2
    back = ingest.read_silver(spark, silver, [(2023, 1)])
    assert back.count() == r1["rows_out"]
    # second month lands beside the first
    feb = make_trips_month(spark, 2023, 2, n=1000)
    ingest.ingest_month(spark, feb, silver, 2023, 2)
    both = ingest.read_silver(spark, silver)
    assert both.select("month").distinct().count() == 2
    # partition pruning: month filter must prune, not scan both
    pruned = ingest.read_silver(spark, silver, [(2023, 2)])
    assert pruned.count() < both.count()


def test_silver_overwrite_dynamic_without_session_conf(spark, raw_month, tmp_path):
    """The driver hands entry() a session we didn't build; if that session
    has static partitionOverwriteMode, re-running one month must still not
    delete other months (writer-level option is the guard)."""
    silver = str(tmp_path / "silver_static")
    ingest.ingest_month(spark, raw_month, silver, 2023, 1)
    feb = make_trips_month(spark, 2023, 2, n=500)
    ingest.ingest_month(spark, feb, silver, 2023, 2)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        ingest.ingest_month(spark, feb, silver, 2023, 2)  # re-run Feb only
    finally:
        spark.conf.set(key, prev)
    months = {r[0] for r in ingest.read_silver(spark, silver).select("month").distinct().collect()}
    assert months == {1, 2}


def test_dim_builders(spark, raw_month):
    clean = ingest.clean_month(raw_month, 2023, 1)
    zones = make_zone_lookup(spark)
    dims = warehouse.seed_enum_dims(spark)
    assert dims["dim_payment_type"].count() == 7
    assert dims["dim_ratecode"].count() == 7
    assert dims["dim_vendor"].count() == 4
    dim_time = warehouse.build_dim_time(spark)
    assert dim_time.count() == 1440
    assert dim_time.filter(F.col("time_id") == "23:59").count() == 1
    dim_date = warehouse.build_dim_date(clean)
    assert dim_date.filter((F.col("day_of_week") < 0) | (F.col("day_of_week") > 6)).count() == 0
    # 2023-01-01 was a Sunday → Postgres DOW 0
    assert dim_date.filter(F.col("date_id") == "2023-01-01").select("day_of_week").first()[0] == 0
    dim_loc = warehouse.build_dim_location(zones, clean)
    assert dim_loc.count() >= 265
    assert dim_loc.select("location_id").distinct().count() == dim_loc.count()


def test_clean_month_empty_input(spark, raw_month):
    empty = raw_month.limit(0)
    out = ingest.clean_month(empty, 2023, 1)
    assert out.count() == 0
    assert len(out.columns) == 19  # schema survives empty input


def test_clean_month_all_dirty(spark, raw_month):
    poisoned = raw_month.withColumn("tpep_pickup_datetime", F.lit(None).cast("timestamp"))
    out = ingest.clean_month(poisoned, 2023, 1)
    assert out.count() == 0
    assert retention_check(raw_month.count(), out.count()).status == "FAIL"


def test_clean_month_wrong_month_window(spark, raw_month):
    # a February window over January data keeps ONLY the deliberate
    # out-of-month spill rows (~1% of the fixture land in early Feb)
    spill = ingest.clean_month(raw_month, 2023, 2)
    assert 0 < spill.count() < raw_month.count() * 0.03
    # a window nowhere near the data drops everything
    assert ingest.clean_month(raw_month, 2024, 6).count() == 0


def test_ingest_month_observed_counts_with_no_rows_out(spark, raw_month, tmp_path):
    """The counts are observed on the silver write, so they must still
    arrive when the write has no rows: an empty raw frame, and a month
    window nowhere near the data."""
    import threading

    def ingest_within(raw, year, month, seconds=120):
        out = {}
        t = threading.Thread(
            target=lambda: out.update(r=ingest.ingest_month(
                spark, raw, str(tmp_path / f"silver{year}"), year, month)),
            daemon=True,
        )
        t.start()
        t.join(seconds)
        assert not t.is_alive(), "ingest_month did not return"
        return out["r"]

    assert ingest_within(raw_month.limit(0), 2023, 1) == {"rows_in": 0, "rows_out": 0}
    assert ingest_within(raw_month, 2024, 6) == {"rows_in": raw_month.count(), "rows_out": 0}


def test_fact_load_with_duplicated_raw(spark, raw_month, tmp_path):
    """At-least-once upstream delivery: doubling the raw feed must not
    double the fact table (NK dedup inside the batch)."""
    clean = ingest.clean_month(raw_month, 2023, 1)
    doubled = clean.unionByName(clean)
    once, twice = str(tmp_path / "once"), str(tmp_path / "doubled")
    warehouse.load_fact_idempotent(warehouse.build_fact(clean), once)
    warehouse.load_fact_idempotent(warehouse.build_fact(doubled), twice)
    assert spark.read.parquet(twice).count() == spark.read.parquet(once).count()


def test_fact_idempotent_load(spark, raw_month, tmp_path):
    clean = ingest.clean_month(raw_month, 2023, 1)
    fact = warehouse.build_fact(clean)
    assert fact.columns[0] == "trip_id"
    path = str(tmp_path / "fact_trip")

    def rows() -> int:
        return spark.read.parquet(path).count()

    warehouse.load_fact_idempotent(fact, path)
    n_first = rows()
    # natural-key dedup inside the batch
    assert n_first == fact.dropDuplicates(list(warehouse.FACT_NATURAL_KEY)).count()
    # loading the same month against itself → zero new rows
    warehouse.load_fact_idempotent(fact, path)
    assert rows() == n_first
    # partial overlap: half the existing + new month → only new month rows in
    feb = warehouse.build_fact(
        ingest.clean_month(make_trips_month(spark, 2023, 2, n=500), 2023, 2)
    )
    warehouse.load_fact_idempotent(fact.union(feb), path)
    assert rows() - n_first == feb.dropDuplicates(list(warehouse.FACT_NATURAL_KEY)).count()
