"""ETL throughput baseline (ex01→ex03 parity).

Generates N synthetic trips JVM-side with
``sources.synthetic.make_trips_month_portable`` (no driver
materialization), runs the full monthly pipeline — clean+normalize,
silver partition write, star-schema build with the idempotent
natural-key fact load, quality gates — and reports wall time + rows/s
for comparison with the reference's ~10–14 min per 3–6M-row month
(BASELINE.md).

Usage: python scripts/etl_baseline_run.py [--rows N] [--out-dir reports]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_bigdata_pipeline_spark import pipeline
from nyc_taxi_bigdata_pipeline_spark.session import get_spark
from nyc_taxi_bigdata_pipeline_spark.sources.reports import write_json_report
from nyc_taxi_bigdata_pipeline_spark.sources.synthetic import make_trips_month_portable


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=3_000_000)
    ap.add_argument("--out-dir", default="reports")
    args = ap.parse_args()

    spark = get_spark("etl-baseline")
    work = tempfile.mkdtemp(prefix="etl_baseline_")
    try:
        # zone lookup built in-session (265 rows)
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tests"))
        from taxi_fixtures import make_zone_lookup

        zones = make_zone_lookup(spark)
        raw = make_trips_month_portable(spark, 2023, 1, args.rows)
        # stage raw to parquet first so the measured run reads from disk
        raw_path = f"{work}/raw"
        raw.write.mode("overwrite").parquet(raw_path)
        raw_df = spark.read.parquet(raw_path)

        t0 = time.perf_counter()
        res = pipeline.run_month(
            spark, raw_df, zones, f"{work}/silver", f"{work}/gold", 2023, 1
        )
        wall = time.perf_counter() - t0

        report = {
            "rows_in": res.counts["rows_in"],
            "rows_out": res.counts["rows_out"],
            "fact_rows": res.counts["fact_rows"],
            "seconds": round(wall, 2),
            "rows_per_sec": round(res.counts["rows_in"] / wall, 1),
            "gates": [
                {"name": c.name, "status": c.status, "detail": c.detail}
                for c in res.checks
            ],
            "scope": "clean+normalize -> silver partition write -> star build "
                     "with NK anti-dup fact load -> quality gates (ex01→ex03)",
            "reference": "~10-14 min per 3-6M-row month (BASELINE.md)",
        }
        write_json_report(report, f"{args.out_dir}/etl_report.json")
        print(report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
