"""Semantic pins for the r7 stats / dataset-prep additions, beyond the
registry-wide oracle hash parity: known-value checks on constructed
inputs (Welch/ANOVA closed forms), structural invariants (mixture
rates, negative-sample cardinality, incremental statuses), and the
FLOOR-clamp regression.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark.benchqueries.stats_ops import (
    _ANOVA_SQL,
    _WELCH_SQL,
)
from __spark_entry__ import queries

QS = queries()


def _welch_reference(a: list[float], b: list[float]) -> tuple[float, float]:
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    df = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    return t, df


def test_welch_matches_closed_form(spark):
    """Welch t and Satterthwaite df on a constructed two-arm frame match
    the straight-from-the-definition Python computation."""
    arm0 = [10.0, 12.0, 11.5, 9.5, 13.0]
    arm1 = [20.0, 25.0, 15.0, 30.0]
    rows = [("e", 2 * i, v) for i, v in enumerate(arm0)]
    rows += [("e", 2 * i + 1, v) for i, v in enumerate(arm1)]
    spark.createDataFrame(
        rows, "event_type string, user_id bigint, value double"
    ).createOrReplaceTempView("welch_fix")
    got = spark.sql(_WELCH_SQL.format(table="welch_fix")).collect()[0]
    t, df = _welch_reference(arm0, arm1)
    assert got.n_a == len(arm0) and got.n_b == len(arm1)
    assert got.mean_a == pytest.approx(sum(arm0) / len(arm0), abs=1e-9)
    assert got.t_stat == pytest.approx(t, abs=1e-8)
    assert got.df_welch == pytest.approx(df, abs=1e-8)


def test_anova_matches_closed_form(spark):
    """One-way ANOVA F on three constructed groups matches the textbook
    between/within decomposition."""
    groups = {
        "a": [1.0, 2.0, 3.0],
        "b": [2.0, 3.0, 4.0, 5.0],
        "c": [10.0, 11.0],
    }
    rows = [
        (g, i, v)
        for g, vs in groups.items()
        for i, v in enumerate(vs)
    ]
    spark.createDataFrame(
        rows, "event_type string, user_id bigint, value double"
    ).createOrReplaceTempView("anova_fix")
    got = spark.sql(_ANOVA_SQL.format(table="anova_fix")).collect()[0]
    allv = [v for vs in groups.values() for v in vs]
    gm = sum(allv) / len(allv)
    ssb = sum(len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in groups.values())
    ssw = sum(
        (v - sum(vs) / len(vs)) ** 2 for vs in groups.values() for v in vs
    )
    k, nn = len(groups), len(allv)
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    assert got.n_total == nn and got.n_groups == k
    assert got.ss_between == pytest.approx(ssb, abs=1e-6)
    assert got.ss_within == pytest.approx(ssw, abs=1e-6)
    assert got.f_stat == pytest.approx(f, rel=1e-9)


def test_anova_survives_large_moments(spark):
    """FLOOR-clamp regression (r7 probe bug): per-group nano terms past
    2^63 must not saturate — ss_within stays positive and F finite on a
    frame whose sxx·1e9 ≈ 6.7e19."""
    n = 200_000
    big = spark.range(n).select(
        F.expr("concat('t', pmod(id, 2))").alias("event_type"),
        F.col("id").alias("user_id"),
        # values ~5.8e5 → sxx ≈ 1e5·(5.8e5)² ≈ 3.3e16 per group;
        # ·1e9 = 3.3e25 ≫ 2^63: instant clamp under the old FLOOR form
        (F.col("id") % 1000 * 1111 + 17).cast("double").alias("value"),
    )
    big.createOrReplaceTempView("anova_big")
    got = spark.sql(_ANOVA_SQL.format(table="anova_big")).collect()[0]
    assert got.ss_within > 0, "ss_within collapsed — FLOOR clamp is back"
    assert math.isfinite(got.f_stat)


def test_temperature_mixture_survives_bigint_threshold_products(spark):
    """Overflow regression: on 90,000 documents in one language the
    threshold product (total/2)·sqrt_micro·2^20 ≈ 1.4e19 passes 2^63,
    which raised in both engines while it was BIGINT. Spark must equal
    DuckDB, row for row, and the one language keeps its whole budget."""
    import duckdb

    from nyc_taxi_bigdata_pipeline_spark.benchqueries import dialect as D
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.dataset_ops import (
        _temperature_mixture,
    )

    n = 90_000
    spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    ).createOrReplaceTempView("tmix_big")
    got = [tuple(r) for r in spark.sql(_temperature_mixture(D.SPARK, "tmix_big")).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE TABLE tmix_big AS SELECT range AS doc_id, 'en' AS lang FROM range({n})")
    want = con.sql(_temperature_mixture(D.DUCK, "tmix_big")).fetchall()
    assert got == want
    ((lang, docs_in, docs_kept, share, keep_frac),) = got
    assert (lang, docs_in, share, keep_frac) == ("en", n, 1.0, 0.5)
    assert abs(docs_kept - n // 2) <= 6 * math.sqrt(n / 4)


def test_mixture_resample_invariants(spark, sf_dir):
    """Every source keeps ≤ its input; the smallest source's acceptance
    predicate is vacuously true (rate 1) so it keeps EVERYTHING; kept
    counts land near the common target."""
    rows = QS["dataset_mixture_resample"](spark, sf_dir).collect()
    n_min = rows[0].n_target
    assert all(r.n_kept <= r.n_in for r in rows)
    smallest = min(rows, key=lambda r: r.n_in)
    assert smallest.n_in == n_min and smallest.n_kept == n_min
    for r in rows:
        # hash acceptance is binomial(n_in, n_min/n_in): 6σ slack
        sigma = math.sqrt(n_min * max(1 - n_min / r.n_in, 0.0))
        assert abs(r.n_kept - n_min) <= 6 * sigma + 1, r


def test_negative_sample_cardinality(spark, sf_dir):
    """The pair matrix accounts for exactly k candidates per anchor and
    valid pairs are the cross-source subset."""
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.dataset_ops import _NEG_K

    rows = QS["dataset_negative_sample"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    assert sum(r.n_pairs for r in rows) == _NEG_K * n_docs
    assert all(0 <= r.n_valid <= r.n_pairs for r in rows)
    same = [r for r in rows if r.anchor_source == r.cand_source]
    # same-source candidates are never valid negatives
    assert all(r.n_valid == 0 for r in same)
    cross_valid = sum(r.n_valid for r in rows if r.anchor_source != r.cand_source)
    cross_pairs = sum(r.n_pairs for r in rows if r.anchor_source != r.cand_source)
    # cross-source pairs are valid unless the ring hit the anchor itself
    assert cross_pairs - cross_valid <= n_docs * _NEG_K // 100 + _NEG_K


def test_incremental_verify_statuses(spark, sf_dir):
    """Planted-batch bookkeeping: 120 corpus-dup plants (60 exact — all
    caught — plus 60 near-dups at deterministic LSH recall), 80 reversed
    docs forming 40 within-batch dup pairs → exactly 40 dup_in_batch,
    and the kept canonicals are the min-id reversed docs plus any
    LSH-missed near-dups."""
    rows = QS["dedup_incremental_verify"](spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r.status, []).append(r.doc_id)
    exact_ids = [d for d in by.get("dup_of_corpus", []) if d < 2_000_000]
    assert len(exact_ids) == 60, "an exact corpus copy escaped"
    assert len(by.get("dup_in_batch", [])) == 40
    assert all(3_000_000 <= d for d in by["dup_in_batch"])
    kept = by.get("kept", [])
    assert sum(1 for d in kept if d >= 3_000_000) == 40
    near_missed = [d for d in kept if 2_000_000 <= d < 3_000_000]
    assert len(near_missed) <= 6, "LSH recall collapsed on near-dups"


def test_min_cost_supplier_is_minimum(spark, sf_dir):
    """Every returned (part, supplier) row carries that part's true
    minimum cost among EUROPE suppliers (brute-force recheck)."""
    out = QS["min_cost_supplier"](spark, sf_dir)
    rows = out.collect()
    assert rows, "empty result at test SF"
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "part", "supplier", "nation", "region"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    truth = dict(
        con.sql("""
        SELECT p_partkey, MIN(CAST(l_extendedprice AS DECIMAL(12,2)))
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
        WHERE p_size <= 10 AND p_type = 'STANDARD'
        GROUP BY p_partkey""").fetchall()
    )
    for r in rows:
        assert float(truth[r.p_partkey]) == pytest.approx(r.min_cost)
