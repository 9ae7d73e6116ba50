"""End-to-end monthly pipeline (ex06 parity): ingest → warehouse →
gates → backfill → sliding-window ML with registry promotion."""

from __future__ import annotations

import pytest

from nyc_taxi_bigdata_pipeline_spark import pipeline
from nyc_taxi_bigdata_pipeline_spark.functions.datetime_parity import sliding_months

from .taxi_fixtures import make_trips_month, make_zone_lookup


def test_sliding_months_year_boundary():
    assert sliding_months(2023, 4) == [(2023, 1), (2023, 2), (2023, 3)]
    assert sliding_months(2023, 1) == [(2022, 10), (2022, 11), (2022, 12)]
    assert sliding_months(2023, 2, 3) == [(2022, 11), (2022, 12), (2023, 1)]


def test_run_month_and_backfill(spark, tmp_path):
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    zones = make_zone_lookup(spark)

    res1 = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=1500), zones, silver, gold, 2023, 1,
        min_rows=100,
    )
    assert res1.ok
    fact_rows_1 = res1.counts["fact_rows"]

    # re-running the same month is idempotent: no fact growth
    res1b = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=1500), zones, silver, gold, 2023, 1,
        min_rows=100,
    )
    assert res1b.counts["fact_rows"] == fact_rows_1

    # backfill a second month: fact grows by its cleaned rows
    res2 = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 2, n=1000), zones, silver, gold, 2023, 2,
        min_rows=100,
    )
    assert res2.counts["fact_rows"] > fact_rows_1
    assert res2.ok


def test_dims_keep_prior_month_keys(spark, tmp_path):
    """Rebuilding dims on month N must not drop 'Unknown' location ids
    (or dates) that only month N-1 observed — otherwise prior facts
    vanish from inner-join analytics. Re-running month N-1 afterwards
    (its fact load sees only its own month of the fact) adds no fact
    rows, and every merge keeps the first build's exact dim schema."""
    import pyspark.sql.functions as F

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    zones = make_zone_lookup(spark)
    jan = make_trips_month(spark, 2023, 1, n=800).withColumn(
        "PULocationID", F.lit(9999)  # id absent from the zone CSV
    )
    keys = {"dim_location": "location_id", "dim_date": "date_id"}

    def dims():
        out = {}
        for name, key in keys.items():
            df = spark.read.parquet(str(tmp_path / "gold" / name))
            out[name] = (df.schema, {r[0] for r in df.select(key).collect()})
        return out

    pipeline.run_month(spark, jan, zones, silver, gold, 2023, 1, min_rows=100)
    after_jan = dims()
    feb = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 2, n=800), zones, silver, gold, 2023, 2,
        min_rows=100,
    )
    after_feb = dims()
    dim_loc = spark.read.parquet(str(tmp_path / "gold" / "dim_location"))
    assert dim_loc.filter(F.col("location_id") == 9999).count() == 1
    dim_date = spark.read.parquet(str(tmp_path / "gold" / "dim_date"))
    assert dim_date.filter(F.month("date_id") == 1).count() > 0

    jan_again = pipeline.run_month(spark, jan, zones, silver, gold, 2023, 1, min_rows=100)
    assert jan_again.counts["fact_rows"] == feb.counts["fact_rows"]
    after_jan_again = dims()
    for name in keys:
        schema, first_keys = after_jan[name]
        assert after_feb[name][0] == after_jan_again[name][0] == schema
        assert first_keys <= after_feb[name][1] <= after_jan_again[name][1]


@pytest.mark.slow
def test_ml_month_gating_and_run(spark, tmp_path, monkeypatch):
    from nyc_taxi_bigdata_pipeline_spark.ml import train as train_mod

    # shrink GBT for test speed; semantics unchanged
    monkeypatch.setattr(train_mod, "GBT_MAX_ITER", 5)

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    reg = str(tmp_path / "registry")
    zones = make_zone_lookup(spark)
    for m in (1, 2, 3, 4):
        pipeline.run_month(
            spark, make_trips_month(spark, 2023, m, n=600), zones, silver, gold, 2023, m,
            min_rows=100,
        )

    # not eligible: no 2022 history for Jan test month
    result, decision, checks = pipeline.run_ml_month(spark, silver, reg, 2023, 1)
    assert result is None and not all(c.ok for c in checks)

    # eligible: 3 train months exist for April
    result, decision, checks = pipeline.run_ml_month(spark, silver, reg, 2023, 4)
    assert all(c.ok for c in checks)
    assert result is not None and decision == "promoted"
    assert result.metrics["rmse"] < 15
