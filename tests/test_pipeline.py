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
    """Dims are append-only, existing key wins: rebuilding them on month
    N must not drop 'Unknown' location ids (or dates) that only month
    N-1 observed — otherwise prior facts vanish from inner-join
    analytics. Re-running month N-1 afterwards (its fact load sees only
    its own month of the fact) adds no fact rows, no run writes a
    constant dim twice, every dim key stays unique, and every append
    keeps the first writer's exact dim schema — also when that writer
    was pyarrow (int32 keys, as the benchmark stages its gold zone)."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.schema import PAYMENT_TYPES, RATECODES, VENDORS

    zones = make_zone_lookup(spark)
    jan = make_trips_month(spark, 2023, 1, n=800).withColumn(
        "PULocationID", F.lit(9999)  # id absent from the zone CSV
    )
    feb_raw = make_trips_month(spark, 2023, 2, n=800)
    keys = {"dim_location": "location_id", "dim_date": "date_id"}

    def run(gold, raw, month):
        return pipeline.run_month(
            spark, raw, zones, str(tmp_path / "silver"), str(gold), 2023, month, min_rows=100
        )

    def dims(gold):
        out = {}
        for name, key in keys.items():
            df = spark.read.parquet(str(gold / name))
            got = [r[0] for r in df.select(key).collect()]
            assert len(got) == len(set(got)), name
            out[name] = (df.schema, set(got))
        return out

    def constant_files(gold):
        return {
            name: sorted((f.name, f.stat().st_size) for f in (gold / name).iterdir())
            for name in pipeline.CONSTANT_DIMS
        }

    gold = tmp_path / "gold"
    run(gold, jan, 1)
    after_jan, constants = dims(gold), constant_files(gold)
    feb = run(gold, feb_raw, 2)
    after_feb = dims(gold)
    dim_loc = spark.read.parquet(str(gold / "dim_location"))
    assert dim_loc.filter(F.col("location_id") == 9999).count() == 1
    dim_date = spark.read.parquet(str(gold / "dim_date"))
    assert dim_date.filter(F.month("date_id") == 1).count() > 0

    jan_again = run(gold, jan, 1)
    assert jan_again.counts["fact_rows"] == feb.counts["fact_rows"]
    after_jan_again = dims(gold)
    assert constant_files(gold) == constants
    for name in keys:
        schema, first_keys = after_jan[name]
        assert after_feb[name][0] == after_jan_again[name][0] == schema
        assert first_keys <= after_feb[name][1] <= after_jan_again[name][1]

    # a gold zone whose dims pyarrow wrote first
    def enum(rows, key, name):
        ids, names = zip(*rows)
        return pa.table({key: pa.array(ids, pa.int32()), name: list(names)})

    z = zones.collect()
    minutes = np.arange(1440, dtype=np.int32)
    seeded = {
        "dim_payment_type": enum(PAYMENT_TYPES, "payment_type_id", "payment_description"),
        "dim_ratecode": enum(RATECODES, "ratecode_id", "ratecode_description"),
        "dim_vendor": enum(VENDORS, "vendor_id", "vendor_name"),
        "dim_time": pa.table({
            "time_id": [f"{m // 60:02d}:{m % 60:02d}" for m in minutes],
            "hour": minutes // 60, "minute": minutes % 60,
        }),
        "dim_location": pa.table({
            "location_id": pa.array([r[0] for r in z], pa.int32()),
            "borough": [r[1] for r in z], "zone": [r[2] for r in z],
            "service_zone": [r[3] for r in z],
        }),
        "dim_date": pa.table({
            "date_id": pa.array([dt.date(2022, 12, 31)], pa.date32()),
            **{c: pa.array([v], pa.int32())
               for c, v in (("year", 2022), ("month", 12), ("day", 31), ("day_of_week", 6))},
        }),
    }
    gold = tmp_path / "gold_pyarrow"
    for name, table in seeded.items():
        (gold / name).mkdir(parents=True)
        pq.write_table(table, gold / name / "part-0.parquet")
    constants = constant_files(gold)
    run(gold, jan, 1)
    assert constant_files(gold) == constants
    got = dims(gold)
    assert {9999, 1} <= got["dim_location"][1]
    assert dt.date(2022, 12, 31) in got["dim_date"][1] and len(got["dim_date"][1]) > 1
    for name in keys:
        want = [(f.name, f.type) for f in seeded[name].schema]
        for part in (gold / name).glob("*.parquet"):
            assert [(f.name, f.type) for f in pq.read_schema(part)] == want, part


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
