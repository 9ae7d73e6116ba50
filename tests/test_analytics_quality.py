"""Analytics (ex04) + quality (ex06) layer tests over the star schema."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark import analytics, ingest, quality, warehouse

from .taxi_fixtures import make_trips_month, make_zone_lookup


@pytest.fixture(scope="module")
def star(spark):
    raw = make_trips_month(spark, 2023, 1, n=2000)
    clean = ingest.clean_month(raw, 2023, 1).cache()
    fact = warehouse.build_fact(clean).cache()
    dims = warehouse.seed_enum_dims(spark)
    dims["dim_location"] = warehouse.build_dim_location(make_zone_lookup(spark), clean).cache()
    dims["dim_date"] = warehouse.build_dim_date(clean)
    dims["dim_time"] = warehouse.build_dim_time(spark)
    return fact, dims


def test_kpis(spark, star):
    fact, dims = star
    row = analytics.kpis(fact, dims).first()
    assert row["total_trips"] == fact.count()
    assert row["total_revenue"] > 0
    assert 0 < row["avg_amount"] < 1000


def test_kpis_with_filters(spark, star):
    fact, dims = star
    flt = analytics.TripFilters(
        date_from="2023-01-10", date_to="2023-01-20", payment_descriptions=["Cash"]
    )
    row = analytics.kpis(fact, dims, flt).first()
    manual = (
        fact.filter(F.col("pickup_date").between("2023-01-10", "2023-01-20"))
        .filter(F.col("payment_type_id") == 2)
        .count()
    )
    assert row["total_trips"] == manual


def test_daily_and_hourly(spark, star):
    fact, dims = star
    daily = analytics.daily_trips(fact, dims).collect()
    assert sum(r["trips"] for r in daily) == fact.count()
    assert all(r["pickup_date"].month == 1 for r in daily)
    days = [r["pickup_date"] for r in daily]
    assert days == sorted(set(days))
    hourly = analytics.hourly_trips(fact, dims).collect()
    assert sum(r["trips"] for r in hourly) == fact.count()
    hours = [r["hour"] for r in hourly]
    assert hours == sorted(set(hours)) and set(hours) <= set(range(24))


def test_payment_breakdown_and_top_zones(spark, star):
    fact, dims = star
    pb = analytics.payment_breakdown(fact, dims)
    assert pb.agg(F.sum("trips")).first()[0] == fact.count()
    tz = analytics.top_zones(fact, dims, k=5).collect()
    assert len(tz) == 5
    assert [r["rank"] for r in tz] == [1, 2, 3, 4, 5]
    trips = [r["trips"] for r in tz]
    assert trips == sorted(trips, reverse=True)


def test_profiles(spark, star):
    fact, dims = star
    np_ = analytics.null_profile(fact.select("passenger_count", "ratecode_id")).first()
    assert np_["nulls_passenger_count"] >= 0
    neg = analytics.negative_profile(fact, ["trip_distance", "total_amount"]).first()
    assert neg["neg_trip_distance"] == 0  # cleaned data has none
    prof = analytics.eda_profile(fact, ["total_amount", "trip_distance"]).collect()
    assert [r["summary"] for r in prof] == [
        "count", "mean", "stddev", "min", "25%", "50%", "75%", "max"
    ]
    rates = analytics.null_rate_profile(fact.select("passenger_count")).first()
    assert 0.0 <= rates["null_rate_passenger_count"] <= 0.1


def test_quality_gates():
    assert quality.retention_check(100, 95).status == "PASS"
    assert quality.retention_check(100, 85).status == "WARN"
    assert quality.retention_check(100, 70).status == "FAIL"
    assert quality.retention_check(0, 0).status == "FAIL"
    assert quality.min_rowcount_check(999, "t").status == "FAIL"
    assert quality.min_rowcount_check(1000, "t").status == "PASS"
    assert quality.ml_eligibility_check(1).status == "FAIL"
    assert quality.ml_eligibility_check(2).status == "PASS"
    ok, results = quality.run_gates(
        quality.retention_check(100, 95), quality.min_rowcount_check(5, "t", 1)
    )
    assert ok and len(results) == 2


def test_schema_check(spark):
    from nyc_taxi_bigdata_pipeline_spark.ml.features import build_feature_table
    raw = make_trips_month(spark, 2023, 1, n=300)
    clean = ingest.clean_month(raw, 2023, 1)
    feats = build_feature_table(clean)
    assert quality.schema_check(feats, "train").ok
    assert not quality.schema_check(feats.drop("total_amount"), "train").ok
    assert quality.schema_check(feats.drop("total_amount"), "infer").ok


def test_approx_aggregates_error_bounds(spark):
    """HLL++ count-distinct and KLL-ish percentile sketches must land
    within their documented error envelopes on real data (rows-only
    query — sketches are engine-private, so the gate lives here)."""
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY

    row = REGISTRY["approx_aggregates"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).first()
    assert row["exact_custs"] > 0
    assert row["cust_rel_err"] <= 0.06   # rsd=0.02 in the query → 3σ
    assert row["median_rel_err"] <= 0.05


def test_expectation_report_detects_violations(spark):
    """Each expectation class must count its violations exactly, in one
    pass, and pass/fail accordingly."""
    from nyc_taxi_bigdata_pipeline_spark.quality import expectation_report

    rows = [
        (1, "F", 10.0),
        (1, "O", -5.0),       # dup key, below range
        (2, None, 2000.0),    # null status is NOT an accepted_values violation
        (None, "X", None),    # null key, bad status, null price ignored by range
    ]
    df = spark.createDataFrame(rows, "k long, status string, price double")
    rep = {
        r["check"]: (r["passed"], r["observed"])
        for r in expectation_report(
            df,
            not_null=["k"],
            unique=["k"],
            ranges={"price": (0.0, 100.0)},
            accepted={"status": ["F", "O", "P"]},
            min_rows=10,
        ).collect()
    }
    assert rep["not_null:k"] == (False, 1)
    assert rep["unique:k"] == (False, 1)       # 3 non-null keys, 2 distinct
    assert rep["in_range:price"] == (False, 2)  # -5 and 2000; NULL ignored
    assert rep["accepted_values:status"] == (False, 1)  # only 'X'
    assert rep["min_rows:10"] == (False, 6)     # 10 - 4 rows short
    clean = expectation_report(
        df.filter("k IS NOT NULL AND k = 2"), not_null=["k"], min_rows=1
    ).collect()
    assert all(r["passed"] for r in clean)


def test_quarantine_split_one_pass_routing(spark, tmp_path):
    """quarantine_split: one partitioned write routes clean vs failing
    rows; quarantined rows carry their rule tags; Observation stats
    match the written partitions; clean side reads back rule-clean."""
    from nyc_taxi_bigdata_pipeline_spark.quality import quarantine_split

    df = spark.createDataFrame(
        [
            (1, 50.0, "A"),    # clean
            (2, None, "A"),    # range rule skips NULL -> clean
            (3, 500.0, "A"),   # in_range violation
            (4, 50.0, "X"),    # accepted violation
            (5, 500.0, "X"),   # both
            (None, 50.0, "A"), # not_null violation
        ],
        "id bigint, price double, cat string",
    )
    out = str(tmp_path / "routed")
    stats = quarantine_split(
        df, out,
        not_null=["id"],
        ranges={"price": (0.0, 100.0)},
        accepted={"cat": ["A", "B"]},
    )
    assert stats["rows"] == 6
    assert stats["quarantined"] == 4 and stats["clean"] == 2
    clean = spark.read.parquet(stats["clean_path"])
    assert {r["id"] for r in clean.collect()} == {1, 2}
    quar = spark.read.parquet(stats["quarantine_path"])
    tags = {r["id"]: list(r["dq_violations"]) for r in quar.collect()}
    assert tags[3] == ["in_range:price"]
    assert tags[4] == ["accepted_values:cat"]
    assert tags[5] == ["in_range:price", "accepted_values:cat"]
    assert tags[None] == ["not_null:id"]
    # the partition column reads back on the union scan
    both = spark.read.parquet(out)
    assert both.count() == 6
    assert set(both.select("dq_status").distinct().toPandas()["dq_status"]) == {
        "clean", "quarantined"
    }


def test_tag_violations_requires_row_level_rule(spark):
    import pytest as _pytest

    from nyc_taxi_bigdata_pipeline_spark.quality import tag_violations

    df = spark.range(3)
    with _pytest.raises(ValueError, match="row-level"):
        tag_violations(df)
