"""Seeded inputs for the benchmark.

Trip months come from the engine's own generator,
``sources.synthetic.make_trips_month_portable``, collected to the
driver in set-up and staged as parquet; the engine then reads only
those files. The same ``seed`` always gives the same rows.

- ``trips_month``: one raw NYC-taxi month with the FIXTURES.md dirty-row
  quota, natural-key duplicates dropped so that the fact load is
  deterministic and a pandas oracle can predict every count and sum.
- ``zone_lookup``: the 265-row zone dimension source.
- ``star_tables``: the gold star schema of one clean month, in the
  layout ``pipeline.run_month`` writes (the engine's own fact schema
  and reference enums), for workloads that read or extend a gold zone
  but do not time building it.
- ``REGISTRY_DATA``: the engine's smallest test tables (sf0.001), copied
  into the benchmark so that it reads nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from nyc_taxi_bigdata_pipeline_spark.schema import FACT_TRIP_SCHEMA, PAYMENT_TYPES, RATECODES, VENDORS
from nyc_taxi_bigdata_pipeline_spark.sources.synthetic import make_trips_month_portable

BOROUGHS = ("Manhattan", "Queens", "Brooklyn", "Bronx", "Staten Island", "EWR", "Unknown")

REGISTRY_DATA = Path(__file__).resolve().parent / "testdata" / "sf0.001"


def month_bounds(year: int, month: int) -> tuple[dt.datetime, dt.datetime]:
    start = dt.datetime(year, month, 1)
    end = dt.datetime(year + (month == 12), month % 12 + 1, 1)
    return start, end


def trips_month(spark, seed: int, year: int, month: int, n: int) -> pa.Table:
    """About ``n`` raw trips of one month from the engine's generator,
    in the 19 columns of a TLC file (without the generator's row index).

    ``make_trips_month_portable`` rather than its ``_distributed`` twin:
    the same schema and dirty-row classes, but the twin's 270-way CASE
    for the pickup zone fails whole-stage codegen, and at benchmark
    sizes it took 5 s a month against 2 s on 4 cores.

    Rows whose natural key (pickup minute, PU, DO, vendor) repeats an
    earlier row's are dropped: the fact load keeps an arbitrary row per
    key, and with unique keys there is nothing for it to choose between.
    """
    t = make_trips_month_portable(spark, year, month, n, seed=seed).drop("rid").toArrow()
    minute = pc.divide(pc.cast(t["tpep_pickup_datetime"], pa.int64()), 60_000_000)
    key = pa.table({"m": minute, "pu": t["PULocationID"], "do": t["DOLocationID"],
                    "v": t["VendorID"]}).to_pandas()
    return t.filter(pa.array(~key.duplicated().to_numpy()))


def zone_lookup() -> pa.Table:
    ids = np.arange(1, 266, dtype=np.int32)
    return pa.table({
        "LocationID": ids,
        "Borough": [BOROUGHS[i % len(BOROUGHS)] for i in ids],
        "Zone": [f"Zone {i:03d}" for i in ids],
        "service_zone": ["N/A" if i >= 264 else ("Airports" if i in (1, 132, 138) else "Boro Zone")
                         for i in ids],
    })


_ARROW = {"int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
          "string": pa.string(), "date": pa.date32()}


def star_tables(clean: pa.Table) -> dict[str, pa.Table]:
    """Gold tables of one month whose rows passed ingest's filters: what
    ``run_month`` onto an empty gold zone writes, ``trip_id`` aside
    (a row number here, a partition-dependent id there)."""
    pickup = clean["tpep_pickup_datetime"]
    fact_cols = {
        "trip_id": pa.array(np.arange(clean.num_rows)),
        "pickup_date": pc.cast(pickup, pa.date32()),
        "pickup_time": pc.strftime(pickup, format="%H:%M"),
        "pickup_location_id": clean["PULocationID"],
        "dropoff_location_id": clean["DOLocationID"],
        "vendor_id": clean["VendorID"],
        "payment_type_id": clean["payment_type"],
        "ratecode_id": clean["RatecodeID"],
    }
    fact = pa.table({
        f.name: (fact_cols[f.name] if f.name in fact_cols else clean[f.name])
        .cast(_ARROW[f.dataType.simpleString()])
        for f in FACT_TRIP_SCHEMA.fields
    })
    dates = pc.unique(fact["pickup_date"])
    d = dates.to_numpy(zero_copy_only=False).astype("datetime64[D]")
    minutes = np.arange(1440, dtype=np.int32)
    zones = zone_lookup()

    def enum(rows, key, name):
        ids, names = zip(*rows)
        return pa.table({key: pa.array(ids, pa.int32()), name: list(names)})

    return {
        "fact_trip": fact,
        "dim_payment_type": enum(PAYMENT_TYPES, "payment_type_id", "payment_description"),
        "dim_ratecode": enum(RATECODES, "ratecode_id", "ratecode_description"),
        "dim_vendor": enum(VENDORS, "vendor_id", "vendor_name"),
        "dim_location": pa.table({
            "location_id": zones["LocationID"], "borough": zones["Borough"],
            "zone": zones["Zone"], "service_zone": zones["service_zone"],
        }),
        "dim_date": pa.table({
            "date_id": dates,
            "year": (d.astype("datetime64[Y]").astype(int) + 1970).astype(np.int32),
            "month": (d.astype("datetime64[M]").astype(int) % 12 + 1).astype(np.int32),
            "day": ((d - d.astype("datetime64[M]")).astype(int) + 1).astype(np.int32),
            # Postgres day of week, 0 = Sunday; 1970-01-01 was a Thursday
            "day_of_week": ((d.astype(int) + 4) % 7).astype(np.int32),
        }),
        "dim_time": pa.table({
            "time_id": [f"{m // 60:02d}:{m % 60:02d}" for m in minutes],
            "hour": minutes // 60,
            "minute": minutes % 60,
        }),
    }


def write_star(clean: pa.Table, gold_dir: str) -> None:
    """Write ``star_tables`` as ``<gold_dir>/<table>/part-0.parquet``."""
    for name, table in star_tables(clean).items():
        Path(gold_dir, name).mkdir(parents=True, exist_ok=True)
        pq.write_table(table, Path(gold_dir, name, "part-0.parquet"))
