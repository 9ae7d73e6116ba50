"""Source/sink operator tests: CSV lookup (S8), report sinks (S10/S11),
HTTP fetch idempotency (S1 — against a local file:// fixture, no
network), sample sink (S9), stage logging (Q6)."""

from __future__ import annotations

import json

import pytest

from nyc_taxi_bigdata_pipeline_spark.sources import csv as csv_src
from nyc_taxi_bigdata_pipeline_spark.sources import http, reports

from .taxi_fixtures import make_zone_lookup


def test_zone_lookup_csv_roundtrip(spark, tmp_path):
    zones = make_zone_lookup(spark)
    p = str(tmp_path / "zones_csv")
    zones.coalesce(1).write.mode("overwrite").csv(p, header=True)
    back = csv_src.read_zone_lookup(spark, p)
    assert back.count() == 265
    assert dict(back.dtypes)["LocationID"] == "int"


def test_report_csv_sink_bounded(spark, tmp_path):
    df = spark.range(100).toDF("id")
    out = str(tmp_path / "report_csv")
    csv_src.write_report_csv(df, out, limit=10)
    back = spark.read.csv(out, header=True)
    assert back.count() == 10


def test_json_report_roundtrip(spark, tmp_path):
    agg = spark.range(10).selectExpr("count(*) AS n", "sum(id) AS s")
    payload = {"metrics": reports.df_to_report(agg)}
    p = reports.write_json_report(payload, tmp_path / "r" / "metrics.json")
    assert json.loads(p.read_text())["metrics"][0]["n"] == 10


def test_json_report_refuses_unbounded(spark, tmp_path):
    with pytest.raises(ValueError, match="aggregate before reporting"):
        reports.df_to_report(spark.range(5000).toDF("id"), max_rows=100)


def test_stage_logger():
    sl = reports.StageLogger()
    with sl.stage("ingest", month="2023-01") as s:
        s["rows"] = 123
    with pytest.raises(RuntimeError):
        with sl.stage("boom"):
            raise RuntimeError("x")
    summary = sl.summary()
    assert [x["stage"] for x in summary["stages"]] == ["ingest", "boom"]
    assert summary["ok"] is False
    assert summary["stages"][0]["rows"] == 123
    # default SLAs (30-min ingest budget) are nowhere near breached
    assert summary["sla_breaches"] == []


def test_stage_logger_sla_warning(caplog):
    import logging as _logging

    sl = reports.StageLogger()
    with caplog.at_level(_logging.WARNING, logger="nyc_taxi_bigdata_pipeline_spark"):
        with sl.stage("slow_scan", sla_seconds=0.0):
            pass  # any elapsed > 0 budget
    assert any("stage_sla_exceeded" in r.getMessage() for r in caplog.records)
    summary = sl.summary()
    assert summary["sla_breaches"] == ["slow_scan"]
    assert summary["stages"][0]["sla_exceeded"] is True
    # per-instance override of a default budget
    sl2 = reports.StageLogger(slas={"ingest": 0.0})
    with sl2.stage("ingest"):
        pass
    assert sl2.summary()["sla_breaches"] == ["ingest"]


def test_monthly_url_and_probe_unavailable():
    url = http.monthly_url(2023, 4)
    assert url.endswith("yellow_tripdata_2023-04.parquet")
    # unreachable host → clean False, no exception (Q1 short-circuit)
    assert http.probe_available("http://127.0.0.1:1/none.parquet", timeout=0.5) is False


def test_fetch_if_absent_idempotent(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"PAYLOAD" * 100)
    url = src.as_uri()
    dest = tmp_path / "out" / "m.parquet"
    p1, dl1 = http.fetch_if_absent(url, dest)
    p2, dl2 = http.fetch_if_absent(url, dest)
    assert (dl1, dl2) == (True, False)  # second call skips (S1 idempotency)
    assert p1 == p2 and p1.read_bytes() == src.read_bytes()
    assert not list(dest.parent.glob("*.part"))  # no partial left behind


def test_portable_trip_generator(spark):
    """The JVM-side generator must honor the FIXTURES.md contract and be
    deterministic under repartitioning (no rand())."""
    from nyc_taxi_bigdata_pipeline_spark import ingest
    from nyc_taxi_bigdata_pipeline_spark.quality import retention_check
    from nyc_taxi_bigdata_pipeline_spark.schema import TRIPS_RAW_COLUMNS
    from nyc_taxi_bigdata_pipeline_spark.sources.synthetic import (
        make_trips_month_portable,
    )

    raw = make_trips_month_portable(spark, 2023, 3, 20000)
    assert raw.columns == ["rid", *TRIPS_RAW_COLUMNS]
    cleaned = ingest.clean_month(raw, 2023, 3)
    n_raw, n_clean = raw.count(), cleaned.count()
    assert retention_check(n_raw, n_clean).status == "PASS"  # ≤10% dirty
    assert n_clean < n_raw  # dirty rows exist and are filtered
    # deterministic across partitioning
    a = make_trips_month_portable(spark, 2023, 3, 500, partitions=1).collect()
    b = make_trips_month_portable(spark, 2023, 3, 500, partitions=7).collect()
    assert sorted(map(tuple, a), key=repr) == sorted(map(tuple, b), key=repr)


def test_hadoop_fs_probe(spark, tmp_path):
    """S4: Hadoop FS existence probe + (existing, missing) split."""
    from nyc_taxi_bigdata_pipeline_spark.sources import fs

    spark.range(5).write.mode("overwrite").parquet(str(tmp_path / "yes"))
    assert fs.hadoop_path_exists(spark, str(tmp_path / "yes"))
    assert not fs.hadoop_path_exists(spark, str(tmp_path / "no"))
    ex, miss = fs.split_existing(
        spark, [str(tmp_path / "yes"), str(tmp_path / "no")]
    )
    assert [p.endswith("yes") for p in ex] == [True]
    assert [p.endswith("no") for p in miss] == [True]
    assert fs.month_partition_path("/s", 2023, 4) == "/s/year=2023/month=4"


def test_sample_sink_deterministic(spark, tmp_path):
    """S9: seeded 10% sample write (spark_prepare.py:55-57).

    Pinned form: ``sample(fraction=..., seed=...)`` — in PySpark 4.1 the
    positional ``sample(0.1, seed=42)`` binds 0.1 to withReplacement and
    silently drops the seed (nondeterministic across calls).
    """
    df = spark.range(10000).toDF("id")
    s1 = df.sample(fraction=0.1, seed=42)
    out = str(tmp_path / "sample")
    s1.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert 700 <= back.count() <= 1300
    # same seed → identical sample
    assert sorted(r["id"] for r in s1.collect()) == sorted(
        r["id"] for r in df.sample(fraction=0.1, seed=42).collect()
    )


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S6/S7 execution evidence via the Derby embedded driver that ships
    on Spark's classpath (no external DB needed): truncate+overwrite
    write (Ex02DataIngestion.scala:154-164 parity) then a predicate-
    partitioned read sharded into range queries."""
    from nyc_taxi_bigdata_pipeline_spark.sources import jdbc

    url = f"jdbc:derby:{tmp_path}/jdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).selectExpr("id", "id * 2 AS v")

    jdbc.write_jdbc_overwrite(df, url, "t1", properties=props, truncate=False)
    # second overwrite is idempotent (no duplicate rows)
    jdbc.write_jdbc_overwrite(df, url, "t1", properties=props, truncate=True)

    back = jdbc.read_jdbc_partitioned(
        spark, url, "t1", partition_column="id",
        lower_bound=0, upper_bound=100, num_partitions=4, properties=props,
    )
    assert back.rdd.getNumPartitions() == 4  # sharded into range queries
    assert back.count() == 100
    assert back.agg({"v": "sum"}).first()[0] == sum(2 * i for i in range(100))


def test_jsonl_roundtrip_and_malformed_capture(spark, tmp_path):
    """JSONL source/sink: shard-controlled write, schema-required read,
    and PERMISSIVE malformed-row capture (the 100-TB contract: no
    inference pass, corrupt rows quarantined not fatal)."""
    from pyspark.sql.types import StringType, StructField

    from nyc_taxi_bigdata_pipeline_spark.sources import jsonl
    from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_jsonl")
    jsonl.write_jsonl(docs, out, partitions=4)

    back = jsonl.read_jsonl(spark, out, jsonl.documents_jsonl_roundtrip_schema())
    assert back.count() == docs.count()
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.select(*docs.columns).collect()}
    assert a == b
    import glob

    assert len(glob.glob(f"{out}/part-*")) == 4  # shard sizing honored

    # malformed line lands in _corrupt_record, valid lines still parse
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all\n')
    schema = jsonl.documents_jsonl_roundtrip_schema().add(
        StructField("_corrupt_record", StringType())
    )
    parsed = jsonl.read_jsonl(spark, str(bad), schema).cache()
    assert parsed.count() == 2
    assert parsed.filter("_corrupt_record IS NOT NULL").count() == 1
    assert parsed.filter("doc_id = 1 AND _corrupt_record IS NULL").count() == 1


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tmp_path):
    """ORC sink/source: values and schema survive the round-trip,
    predicate pushdown reaches the ORC scan (PushedFilters), and a
    partition filter prunes directories (PartitionFilters)."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.plans.explain import physical_plan
    from nyc_taxi_bigdata_pipeline_spark.sources.orc import read_orc, write_orc
    from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, partition_by=["lang"])

    back = read_orc(spark, out)
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == want
    # partitioning column survives (moved to directory, read back)
    assert set(back.columns) == set(docs.columns)

    pruned = back.filter(F.col("lang") == "en").filter(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    plan = physical_plan(pruned)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or (
        "PushedFilters" in plan and "LessThan(doc_id,100)" in plan
    ), plan
    assert "PartitionFilters" in plan and "lang" in plan
    assert pruned.count() == docs.filter("lang = 'en' AND doc_id < 100").count()


def test_text_corpus_line_and_whole_file_modes(spark, tmp_path):
    from nyc_taxi_bigdata_pipeline_spark.sources.text import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\ngamma\n")
    (d / "b.txt").write_text("delta\n")
    lines = read_text_corpus(spark, str(d)).collect()
    by_file = {}
    for r in lines:
        by_file.setdefault(r["file"].rsplit("/", 1)[-1], []).append(
            (r["line_no"], r["text"])
        )
    assert sorted(by_file["a.txt"]) == [(1, "alpha"), (2, "beta"), (3, "gamma")]
    assert by_file["b.txt"] == [(1, "delta")]

    whole = {
        r["file"].rsplit("/", 1)[-1]: r["text"]
        for r in read_text_corpus(spark, str(d), whole_files=True).collect()
    }
    assert whole["a.txt"] == "alpha\nbeta\ngamma\n"
    assert whole["b.txt"] == "delta\n"
