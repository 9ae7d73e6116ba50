"""Smoke test of the benchmark itself: every workload at the smallest size.

    python -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced, with a one-second
window. The test asserts the result contract (every metric that
BENCHMARK.json names, with its unit), that every output check passed,
and that the outputs match the fingerprints recorded below for seed 7.
A second test holds the star schema the benchmark writes for its
workloads to the one ``pipeline.run_month`` writes.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 7

# Recorded at the commit that added the benchmark (smoke size, seed 7,
# 4 cores: the GBT's split candidates depend on the partition count),
# per operation label: the month's counts and checksum with the model's
# row counts and RMSE, and [rows, digest of the rows] per dashboard query. The registry pass is
# held to ``workloads.HEADLINE_FINGERPRINTS`` by its own check: its
# tables are fixed, so its fingerprints do not depend on the seed.
DASHBOARD = {
    "analytics:all": {
        "kpis": [1, "7e7a7de53614"], "daily_trips": [31, "5ef1e051395f"],
        "hourly_trips": [24, "dbb71157747d"], "payment_breakdown": [5, "a1e7b3e4e373"],
        "top_zones": [10, "3e01bcbee3ab"]},
    "analytics:widgets": {
        "kpis": [1, "317060f47f17"], "daily_trips": [5, "4a4dbab59eed"],
        "hourly_trips": [7, "e037a02f717c"], "payment_breakdown": [2, "c062909e9253"],
        "top_zones": [3, "2beff64cacaf"]},
    "sql:date_a": {
        "kpis": [1, "adca29308e0b"], "daily_trips": [10, "b95795a2ccaa"],
        "hourly_trips": [24, "e6f1b3319a8a"], "payment_breakdown": [5, "e31e5dfaac0d"],
        "top_zones": [10, "4ff1ebbc5b42"]},
    "sql:date_b": {
        "kpis": [1, "e5b7adc290fd"], "daily_trips": [10, "2a0ab2067a3b"],
        "hourly_trips": [24, "e71a06742cb5"], "payment_breakdown": [5, "e1827fb35914"],
        "top_zones": [10, "b5f77ddbd15c"]},
}
# one filter through both dashboard paths: their results must agree
DASHBOARD["analytics:date_a"] = DASHBOARD["sql:date_a"]

FINGERPRINTS = {
    "month_job": {"month": {
        "rows_in": 3000, "rows_out": 2913, "fact_rows": 5827,
        "checksum": [5827, 115452960, 4193726, 777843, 788601, 18367, 6079044, 31670143],
        "train_rows": 8529, "test_rows": 2841, "rmse": 2.9593,
    }},
    "dashboard": {
        f"{page}:{shape}": {"rows": n, "digest": d}
        for page, shapes in DASHBOARD.items() for shape, (n, d) in shapes.items()
    },
    "registry_headline": {"pass": {}},
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    report = json.loads(
        (ROOT / ".perfbench_work" / "reports" / f"{workload}-seed{SEED}-smoke-trace{trace}.json").read_text()
    )
    return result, report


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        result, report = run(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert all(op["ok"] for op in report["ops"])
        wanted = {m["name"]: m["unit"] for m in SPEC[kind]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted
        assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
        if kind == "end_to_end":
            assert all(v["value"] > 0 for v in result["metrics"].values())
        host = report["host"]
        assert host["cpus"] >= 1 and host["default_parallelism"] == host["cpus"]
        assert all(host[k] > 0 for k in ("calib_s", "calib_seq_s", "calib_par_s"))
        for op in report["ops"]:
            expected = FINGERPRINTS[workload][op["label"]]
            assert {k: op["fingerprint"][k] for k in expected} == expected
    assert "trace_overhead" in report


@pytest.mark.slow
def test_star_tables_match_run_month(monkeypatch):
    """``inputs.star_tables`` of a clean month equals what run_month
    writes from the same raw month onto an empty gold zone: the same
    tables, column names and types, and rows (``trip_id`` aside)."""
    monkeypatch.syspath_prepend(str(ROOT))
    monkeypatch.syspath_prepend(str(HERE))
    import inputs
    import run as bench
    import workloads
    from nyc_taxi_bigdata_pipeline_spark import pipeline
    from nyc_taxi_bigdata_pipeline_spark.session import get_spark

    work = ROOT / ".perfbench_work" / "star-test"
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MEM_GB", "SPARK_LOCAL_DIRS", "TMPDIR",
              "PYSPARK_PYTHON", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(k, raising=False)  # restored after the test
    bench.configure_env(work)
    spark = get_spark("star-test", extra_confs={"spark.ui.enabled": "false"})
    try:
        raw = inputs.trips_month(spark, SEED, workloads.YEAR, 1, 3000)
        raw_path = workloads._write(raw, work / "raw.parquet")
        zones = workloads._write(inputs.zone_lookup(), work / "zones.parquet")
        res = pipeline.run_month(spark, spark.read.parquet(raw_path), spark.read.parquet(zones),
                                 str(work / "silver"), str(work / "gold"), workloads.YEAR, 1)
        assert res.ok
    finally:
        bench.stop_spark(spark)
    try:
        ours = inputs.star_tables(workloads.clean_table(raw, workloads.YEAR, 1))
        assert sorted(ours) == sorted(p.name for p in (work / "gold").iterdir())
        for name, mine in ours.items():
            engine = pq.read_table(work / "gold" / name)
            assert [(f.name, f.type) for f in engine.schema] == [(f.name, f.type) for f in mine.schema], name
            if name == "fact_trip":
                engine, mine = engine.drop(["trip_id"]), mine.drop(["trip_id"])
            assert sorted(engine.to_pylist(), key=repr) == sorted(mine.to_pylist(), key=repr), name
    finally:
        shutil.rmtree(work, ignore_errors=True)
