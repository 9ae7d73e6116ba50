"""Distributed, oracle-portable synthetic trip generator.

The pytest fixtures (tests/taxi_fixtures.py) build rows on the driver —
fine at 2k rows, useless at benchmark scale. This generator produces the
same schema/dirty-row contract (FIXTURES.md §1) entirely JVM-side from
``spark.range``: deterministic per (seed, year, month, n), embarrassingly
parallel, no driver materialization — the pattern that generates test
corpora at any scale on a real cluster.

Determinism: every column derives from a portable md5→int64 hash of
(tag, key, row id) — no rand(), whose per-partition seeding changes with
partitioning — and integer-cents arithmetic, so a DuckDB SQL twin
regenerates the exact rows for oracles.
"""

from __future__ import annotations

from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.datetime_parity import month_window


# Value tables shared by the Spark builder and the DuckDB SQL twin below.
# Integer-cents money and pure-integer hashing keep every derived value
# bit-identical across engines (functions/compat.py rules: no raw-double
# accumulation, no engine-private hash).
_P_VENDOR = (1, 1, 2, 2, 6, 7)
_P_PAX = (1, 1, 1, 2, 2, 3, 4, 5, 6)
_P_RATE = (1, 1, 1, 2, 3, 4, 5, 6, 99)
_P_PAY = (1, 1, 1, 2, 2, 3, 4, 0)
_PU_PLANTED = (161, 236, 237, 132, 138)

# dirty-class thresholds out of 1e6 (the six FIXTURES.md classes in
# 1 : 1 : 0.5 : 1 : 1 : 1.5 ratios, 6 % dirty in all):
# [0, 10k) out-of-month · [10k, 20k) negative duration · [20k, 25k) >24 h
# duration · [25k, 35k) null critical ts · [35k, 45k) negative values ·
# [45k, 60k) soft nulls
_DIRTY_T = (10_000, 20_000, 25_000, 35_000, 45_000, 60_000)


def _month_span_seconds(year: int, month: int) -> int:
    start, end = month_window(year, month)
    return (date.fromisoformat(end) - date.fromisoformat(start)).days * 86400


def _hp_spark(tag: str, key: str) -> F.Column:
    """Portable seeded 64-bit row hash (md5-hex → int64) of the range id —
    the bit-identical twin of :func:`_hp_duck`. It pays an md5 per value
    instead of an engine-private xxhash64 so a DuckDB oracle can
    regenerate the exact rows."""
    return F.expr(
        "CAST(CONV(SUBSTRING(MD5(CONCAT("
        f"'{tag}#{key}#', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )


def _hp_duck(tag: str, key: str) -> str:
    return (
        "CAST(CONCAT('0x', SUBSTRING(MD5(CONCAT("
        f"'{tag}#{key}#', CAST(rid AS VARCHAR))), 1, 15)) AS BIGINT)"
    )


def _pick_h(h: F.Column, values) -> F.Column:
    idx = h % F.lit(len(values))
    expr = F.lit(values[0])
    for i, v in enumerate(values[1:], start=1):
        expr = F.when(idx == i, F.lit(v)).otherwise(expr)
    return expr


def _pick_duck(idx_expr: str, values) -> str:
    whens = " ".join(
        f"WHEN {i} THEN {v}" for i, v in enumerate(values[1:], start=1)
    )
    return f"(CASE {idx_expr} {whens} ELSE {values[0]} END)"


def make_trips_month_portable(
    spark: SparkSession,
    year: int,
    month: int,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """~n trips in (year, month): the 19 raw trip columns (plus a
    ``rid`` row-index column callers may plant duplicates with;
    ``ingest.normalize_types`` drops it) with the six FIXTURES.md dirty
    classes. Every value derives from the portable md5→int64 hash and
    integer-cents arithmetic so
    :func:`portable_trips_duckdb_sql` regenerates the exact rows for a
    DuckDB oracle. Money columns are exact cents / 100.0 doubles; no
    transcendental functions (exp/round-on-double cross-engine hazards).
    """
    key = f"{seed}-{year}-{month}"
    start, _end = month_window(year, month)
    span = _month_span_seconds(year, month)
    df = spark.range(
        n, numPartitions=partitions or spark.sparkContext.defaultParallelism
    )

    def H(tag: str) -> F.Column:
        return _hp_spark(tag, key)

    t = _DIRTY_T
    dirty = H("dirty") % F.lit(1_000_000)
    offs = H("pickup") % F.lit(span)
    pickup_s = F.when(dirty < t[0], F.lit(span + 3600)).otherwise(offs)
    dur_s = F.lit(60) + H("dur") % F.lit(5340)
    dur_eff = (
        F.when((dirty >= t[0]) & (dirty < t[1]), -dur_s)
        .when((dirty >= t[1]) & (dirty < t[2]), F.lit(90_000))
        .otherwise(dur_s)
    )
    dist_c = F.lit(50) + H("dist") % F.lit(2000)
    fare_c = F.lit(300) + F.lit(2) * dist_c + dur_s
    tip_c = F.when(H("tipq") % 10 < 7, fare_c % 500).otherwise(F.lit(0))
    total_c = fare_c + tip_c + F.lit(150)

    null_crit = (dirty >= t[2]) & (dirty < t[3])
    neg_vals = (dirty >= t[3]) & (dirty < t[4])
    null_soft = (dirty >= t[4]) & (dirty < t[5])
    nc = H("nc") % 2
    nv = H("nv") % 2
    ns = H("ns") % 100

    epoch0 = F.unix_timestamp(F.to_timestamp(F.lit(start)))
    pickup_ts = F.timestamp_seconds(epoch0 + pickup_s)
    dropoff_ts = F.timestamp_seconds(epoch0 + pickup_s + dur_eff)

    pu_idx = H("pu") % F.lit(270)
    pu = F.lit(_PU_PLANTED[0])
    for i, v in enumerate(_PU_PLANTED[1:], start=1):
        pu = F.when(pu_idx == i, F.lit(v)).otherwise(pu)
    pu = F.when(pu_idx >= len(_PU_PLANTED), pu_idx - 4).otherwise(pu)

    return df.select(
        F.col("id").alias("rid"),
        _pick_h(H("vendor"), _P_VENDOR).cast("int").alias("VendorID"),
        F.when(null_crit & (nc == 0), None)
        .otherwise(pickup_ts)
        .alias("tpep_pickup_datetime"),
        F.when(null_crit & (nc == 1), None)
        .otherwise(dropoff_ts)
        .alias("tpep_dropoff_datetime"),
        F.when(null_soft & (ns < 30), None)
        .otherwise(_pick_h(H("pax"), _P_PAX))
        .cast("int")
        .alias("passenger_count"),
        (
            F.when(neg_vals & (nv == 0), -dist_c).otherwise(dist_c).cast("double")
            / 100.0
        ).alias("trip_distance"),
        F.when(null_soft & (ns >= 30) & (ns < 50), None)
        .otherwise(_pick_h(H("rate"), _P_RATE))
        .cast("int")
        .alias("RatecodeID"),
        F.when(null_soft & (ns >= 50) & (ns < 70), None)
        .otherwise(_pick_h(H("saf"), ("Y", "N", "N", "N")))
        .alias("store_and_fwd_flag"),
        pu.cast("int").alias("PULocationID"),
        (H("do") % 265 + 1).cast("int").alias("DOLocationID"),
        _pick_h(H("pay"), _P_PAY).cast("int").alias("payment_type"),
        (fare_c.cast("double") / 100.0).alias("fare_amount"),
        _pick_h(H("extra"), (0.0, 0.5, 1.0, 2.5)).alias("extra"),
        F.lit(0.5).alias("mta_tax"),
        (tip_c.cast("double") / 100.0).alias("tip_amount"),
        _pick_h(H("tolls"), (0.0, 0.0, 0.0, 6.55)).alias("tolls_amount"),
        F.lit(1.0).alias("improvement_surcharge"),
        (
            F.when(neg_vals & (nv == 1), -total_c).otherwise(total_c).cast("double")
            / 100.0
        ).alias("total_amount"),
        F.when(null_soft & (ns >= 85), None)
        .otherwise(_pick_h(H("cong"), (0.0, 2.5)))
        .alias("congestion_surcharge"),
        F.when(null_soft & (ns >= 70) & (ns < 85), None)
        .otherwise(_pick_h(H("apt"), (0.0, 1.25, 1.75)))
        .alias("airport_fee"),
    )


def portable_trips_duckdb_sql(
    year: int, month: int, n: int, seed: int = 42
) -> str:
    """DuckDB SELECT regenerating the rows of
    :func:`make_trips_month_portable` — integer/epoch-seconds form (no
    timestamp types, so no tz machinery): ``rid``, nullable
    ``pickup_s``/``dropoff_s`` offsets from month start, signed cents
    ``dist_c``/``total_c``, ``passenger_count``, ``vendor_id``,
    ``pu_id``, ``do_id``. Parity with the Spark builder is pinned row
    by row in tests/test_synthetic_portable.py."""
    key = f"{seed}-{year}-{month}"
    span = _month_span_seconds(year, month)
    t = _DIRTY_T

    def H(tag: str) -> str:
        return _hp_duck(tag, key)

    pax = _pick_duck("paxidx", _P_PAX)
    vendor = _pick_duck("vidx", _P_VENDOR)
    pu_whens = " ".join(
        f"WHEN {i} THEN {v}" for i, v in enumerate(_PU_PLANTED)
    )
    return f"""
    WITH pr AS (SELECT rid FROM range(0, {n}) AS rt(rid)),
    ph AS (SELECT rid,
        {H('dirty')} % 1000000 AS dirty,
        {H('pickup')} % {span} AS offs,
        60 + {H('dur')} % 5340 AS dur_s,
        50 + {H('dist')} % 2000 AS dist_c0,
        {H('tipq')} % 10 AS tipq,
        {H('nc')} % 2 AS nc,
        {H('nv')} % 2 AS nv,
        {H('ns')} % 100 AS ns,
        {H('vendor')} % 6 AS vidx,
        {H('pax')} % 9 AS paxidx,
        {H('pu')} % 270 AS puidx,
        {H('do')} % 265 + 1 AS do_id
      FROM pr),
    pg AS (SELECT rid, dirty, ns, nc, nv, dist_c0, paxidx, vidx, puidx, do_id,
        CASE WHEN dirty < {t[0]} THEN {span + 3600} ELSE offs END AS pickup_s0,
        CASE WHEN dirty >= {t[0]} AND dirty < {t[1]} THEN -dur_s
             WHEN dirty >= {t[1]} AND dirty < {t[2]} THEN 90000
             ELSE dur_s END AS dur_eff,
        300 + 2 * dist_c0 + dur_s AS fare_c,
        CASE WHEN tipq < 7 THEN (300 + 2 * dist_c0 + dur_s) % 500 ELSE 0 END AS tip_c
      FROM ph),
    ptrips AS (SELECT rid,
        CASE WHEN dirty >= {t[2]} AND dirty < {t[3]} AND nc = 0 THEN NULL
             ELSE pickup_s0 END AS pickup_s,
        CASE WHEN dirty >= {t[2]} AND dirty < {t[3]} AND nc = 1 THEN NULL
             ELSE pickup_s0 + dur_eff END AS dropoff_s,
        CASE WHEN dirty >= {t[4]} AND dirty < {t[5]} AND ns < 30 THEN NULL
             ELSE {pax} END AS passenger_count,
        CASE WHEN dirty >= {t[3]} AND dirty < {t[4]} AND nv = 0 THEN -dist_c0
             ELSE dist_c0 END AS dist_c,
        CASE WHEN dirty >= {t[3]} AND dirty < {t[4]} AND nv = 1
             THEN -(fare_c + tip_c + 150)
             ELSE fare_c + tip_c + 150 END AS total_c,
        {vendor} AS vendor_id,
        (CASE puidx {pu_whens} ELSE puidx - 4 END) AS pu_id,
        do_id
      FROM pg)
    SELECT rid, pickup_s, dropoff_s, passenger_count, dist_c, total_c,
           vendor_id, pu_id, do_id
    FROM ptrips"""
