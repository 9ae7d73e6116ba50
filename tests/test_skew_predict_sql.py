"""Tests for skew-aware aggregation, batch scoring, SQL interface, and
the backfill runner."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark import ingest, pipeline, sql_interface
from nyc_taxi_bigdata_pipeline_spark.ml import features, predict, train
from nyc_taxi_bigdata_pipeline_spark.operators import skew

from .taxi_fixtures import make_trips_month, make_zone_lookup


# ------------------------------------------------------------------- skew


@pytest.fixture(scope="module")
def skewed(spark):
    # one dominant group ('hot') and several small ones
    hot = spark.range(20000).selectExpr("'hot' AS g", "CAST(id % 700 AS LONG) AS v")
    cold = spark.range(2000).selectExpr(
        "concat('c', CAST(id % 7 AS STRING)) AS g", "id AS v"
    )
    return hot.union(cold).cache()


def test_salted_count_distinct_equivalence(spark, skewed):
    got = {
        r["g"]: r["distinct_v"]
        for r in skew.salted_count_distinct(skewed, ["g"], "v", buckets=8).collect()
    }
    want = {
        r["g"]: r["d"]
        for r in skewed.groupBy("g").agg(F.countDistinct("v").alias("d")).collect()
    }
    assert got == want
    assert got["hot"] == 700


def test_salted_collect_sample_bounded(spark, skewed):
    out = skew.salted_collect_sample(skewed, ["g"], "v", per_group_limit=5, buckets=4)
    counts = {r["g"]: r["cnt"] for r in out.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert all(c <= 5 for c in counts.values())
    # deterministic: the globally lowest rows survive (v=0 repeats ~28×
    # in the hot group, so all five survivors are copies of 0)
    hot_vals = sorted(r["v"] for r in out.filter(F.col("g") == "hot").collect())
    assert hot_vals == [0, 0, 0, 0, 0]


def test_with_salt_deterministic(spark, skewed):
    a = skew.with_salt(skewed, 16).select("__salt").collect()
    b = skew.with_salt(skewed, 16).select("__salt").collect()
    assert a == b
    assert all(0 <= r["__salt"] < 16 for r in a)


# ------------------------------------------------------------ batch predict


@pytest.fixture(scope="module")
def model_and_features(spark):
    tr = features.build_feature_table(
        ingest.clean_month(make_trips_month(spark, 2023, 1, n=1200), 2023, 1)
    )
    te = features.build_feature_table(
        ingest.clean_month(make_trips_month(spark, 2023, 2, n=400), 2023, 2)
    )
    res = train.train_and_evaluate(tr, te, train.build_pipeline(max_iter=8))
    return res.model, te


def test_score_batch_report(model_and_features):
    model, te = model_and_features
    preds, report = predict.score_batch(model, te, with_label=True)
    assert report["rows"] == te.count()
    assert report["implausible"] == 0
    assert report["rows_per_sec"] > 0
    assert "prediction" in preds.columns


def test_score_batch_rejects_bad_schema(model_and_features):
    model, te = model_and_features
    with pytest.raises(ValueError, match="schema validation failed"):
        predict.score_batch(model, te.drop("trip_distance"))


def test_score_single(model_and_features):
    model, te = model_and_features
    val = predict.score_single(model, te.limit(1))
    assert -50 < val < 500


# ------------------------------------------------------- SQL interface


def test_register_star_and_dashboard_sql(spark, tmp_path):
    silver, gold = str(tmp_path / "s"), str(tmp_path / "g")
    zones = make_zone_lookup(spark)
    pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=800), zones, silver, gold, 2023, 1,
        min_rows=100,
    )
    names = sql_interface.register_star(spark, gold)
    assert set(names) == set(sql_interface.STAR_TABLES)
    total = spark.sql("SELECT COUNT(*) AS n FROM fact_trip").first()["n"]
    for q in sql_interface.DASHBOARD_SQL:
        df = sql_interface.dashboard_query(spark, q, "2023-01-01", "2023-01-31")
        assert df.count() > 0
    kpis = sql_interface.dashboard_query(spark, "kpis", "2023-01-01", "2023-01-31").first()
    assert kpis["total_trips"] == total
    # join-parity: the hour taken from the time key == the reference's
    # dim_time join, rows and order
    hourly = sql_interface.dashboard_query(spark, "hourly_trips", "2023-01-01", "2023-01-31")
    joined = spark.sql("""
        SELECT t.hour, COUNT(*) AS trips
        FROM fact_trip f JOIN dim_time t ON f.pickup_time = t.time_id
        WHERE f.pickup_date BETWEEN '2023-01-01' AND '2023-01-31'
        GROUP BY t.hour ORDER BY t.hour""")
    assert hourly.collect() == joined.collect()
    assert hourly.agg(F.sum("trips")).first()[0] == total
    # any Hadoop path, not only a local directory
    assert sql_interface.register_star(spark, "file://" + gold) == list(sql_interface.STAR_TABLES)


# ------------------------------------------------------------- backfill


def test_backfill_order_and_stop_on_fail(spark, tmp_path):
    silver, gold = str(tmp_path / "s"), str(tmp_path / "g")
    zones = make_zone_lookup(spark)
    good1 = make_trips_month(spark, 2023, 1, n=400)
    poisoned = make_trips_month(spark, 2023, 2, n=400).withColumn(
        "total_amount", F.lit(-1.0)
    )
    good3 = make_trips_month(spark, 2023, 3, n=400)
    results = pipeline.backfill(
        spark,
        [(2023, 3, good3), (2023, 1, good1), (2023, 2, poisoned)],  # shuffled input
        zones, silver, gold, min_rows=100,
    )
    # processed in calendar order, halted at the poisoned month
    assert [(r.year, r.month) for r in results] == [(2023, 1), (2023, 2)]
    assert results[0].ok and not results[1].ok
