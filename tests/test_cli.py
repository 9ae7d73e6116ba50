"""CLI tests (in-process: getOrCreate reuses the test session)."""

from __future__ import annotations

import json

import pytest

from nyc_taxi_bigdata_pipeline_spark.__main__ import main

from .taxi_fixtures import make_trips_month, make_zone_lookup


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    make_trips_month(spark, 2023, 1, n=1500).write.mode("overwrite").parquet(
        str(root / "raw")
    )
    make_zone_lookup(spark).coalesce(1).write.mode("overwrite").csv(
        str(root / "zones"), header=True
    )
    return root


def _run(capsys, argv) -> tuple[int, dict]:
    code = main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return code, json.loads(out)


def test_cli_run_month_then_analytics(staged, capsys):
    code, res = _run(
        capsys,
        [
            "run-month",
            "--raw", str(staged / "raw"),
            "--zones", str(staged / "zones"),
            "--silver", str(staged / "silver"),
            "--gold", str(staged / "gold"),
            "--year", "2023", "--month", "1",
        ],
    )
    assert code == 0 and res["ok"]
    assert res["counts"]["fact_rows"] == res["counts"]["rows_out"]
    assert all(c["status"] == "PASS" for c in res["checks"])

    code, res = _run(
        capsys,
        ["analytics", "--gold", str(staged / "gold"), "--query", "kpis",
         "--from", "2023-01-01", "--to", "2023-01-31"],
    )
    assert code == 0 and res["rows"][0]["total_trips"] > 0


def test_cli_ingest_only(staged, capsys):
    code, res = _run(
        capsys,
        ["ingest", "--raw", str(staged / "raw"), "--silver", str(staged / "s2"),
         "--year", "2023", "--month", "1"],
    )
    assert code == 0 and res["rows_out"] <= res["rows_in"]


def test_cli_ml_subcommand(staged, capsys, tmp_path, monkeypatch):
    from nyc_taxi_bigdata_pipeline_spark.ml import train as train_mod

    monkeypatch.setattr(train_mod, "GBT_MAX_ITER", 3)
    # stage 4 silver months so April is ML-eligible
    silver = str(tmp_path / "ml_silver")
    from nyc_taxi_bigdata_pipeline_spark import ingest
    import nyc_taxi_bigdata_pipeline_spark.session as sess

    spark = sess.get_spark()  # getOrCreate → the test session
    for m in (1, 2, 3, 4):
        ingest.ingest_month(
            spark, make_trips_month(spark, 2023, m, n=500), silver, 2023, m
        )
    code, res = _run(
        capsys,
        ["ml", "--silver", silver, "--registry", str(tmp_path / "reg"),
         "--year", "2023", "--month", "4"],
    )
    assert code == 0 and res["ok"]
    assert res["decision"] == "promoted"
    assert res["metrics"]["rmse"] < 15


def test_cli_rejects_unknown_query(staged):
    with pytest.raises(SystemExit):
        main(["analytics", "--gold", str(staged / "gold"), "--query", "nope"])


def test_cli_dq_report(staged, capsys):
    """dq subcommand: one-pass expectation report over a parquet table,
    failing checks flip ok to false."""
    raw = str(staged / "raw")
    code, out = _run(capsys, [
        "dq", "--table", raw,
        "--not-null", "VendorID",
        "--range", "fare_amount:-100:100000",
        "--min-rows", "100",
    ])
    assert code == 0 and out["ok"] is True
    assert {c["check"] for c in out["checks"]} == {
        "not_null:VendorID", "in_range:fare_amount", "min_rows:100",
    }
    # an impossible contract fails and reports the violation count
    code, out = _run(capsys, ["dq", "--table", raw, "--min-rows", "10000000"])
    assert out["ok"] is False
    assert out["checks"][0]["observed"] > 0


def test_cli_dq_malformed_specs_are_argparse_errors(staged, capsys):
    """Malformed --range / --accepted must exit with a usage error (2),
    not a bare traceback; column names containing ':' parse via rsplit."""
    for bad in (["--range", "fare"], ["--range", "fare:1:x"],
                ["--accepted", "novalues"]):
        with pytest.raises(SystemExit) as exc:
            main(["dq", "--table", str(staged / "silver"), *bad])
        assert exc.value.code == 2
    capsys.readouterr()

    from nyc_taxi_bigdata_pipeline_spark.__main__ import (
        _parse_accepted_spec,
        _parse_range_spec,
    )

    assert _parse_range_spec("ns:col:0:5") == ("ns:col", (0.0, 5.0))
    assert _parse_accepted_spec("ns:col:a,b") == ("ns:col", ["a", "b"])


def test_cli_dq_no_checks_is_clear_error(staged):
    """dq with no expectation flags raises the explicit ValueError, not
    an opaque stack(0,) AnalysisException."""
    with pytest.raises(ValueError, match="no expectations specified"):
        main(["dq", "--table", str(staged / "silver")])
