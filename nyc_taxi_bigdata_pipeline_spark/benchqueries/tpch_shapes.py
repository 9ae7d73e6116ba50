"""TPC-H composite shapes the SQL surface didn't pin yet (§2.2–§2.6
extensions): conditional-aggregate ratios (Q14), aggregate-vs-global-max
selection (Q15), HAVING over a grouped sum feeding a join (Q18), scalar
subquery + anti join (Q22), and HAVING against a scalar fraction-of-total
subquery (Q11).

The reference's analytical layer stops at star-join group-bys
(ex04_dashboard/streamlit_app/app.py:239-418); these queries pin the
next ring of relational capability a user migrating a SQL workload
expects — each one a different composition of operators the engine
already supports individually. All money arithmetic follows the
exact-decimal discipline from functions/compat.py so every query
hash-matches DuckDB bit-for-bit.

Scale notes (100 TB): part/supplier joins broadcast the dim side; the
grouped HAVING shapes are one map-side-combined hash aggregate plus a
selective join; the scalar subqueries are 1-row broadcasts, never
driver collects.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast

from ..functions import compat as C
from ..sources.tables import load_table, load_tables
from .registry import register, sx

_DISC = f"{C.money('l_extendedprice')} * (1 - {C.rate('l_discount')})"
# zero literal with the SAME decimal type as _DISC in both engines, so the
# CASE branches never widen differently
_DISC_ZERO = f"{C.money('0')} * (1 - {C.rate('0')})"


# ------------------------------------------------------------- Q14 shape

_PROMO_ORACLE = f"""
SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS yr,
       {C.sum_exact(f"CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC} ELSE {_DISC_ZERO} END",
                    'promo_revenue')},
       {C.sum_exact(_DISC, 'total_revenue')},
       ROUND(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC} ELSE {_DISC_ZERO} END) AS DOUBLE)
             * CAST(100 AS DOUBLE)
             / CAST(SUM({_DISC}) AS DOUBLE), 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1"""


@register(
    "promo_revenue",
    _PROMO_ORACLE,
    doc="TPC-H Q14 shape: conditional-aggregate ratio — promo revenue share "
        "per ship year through a fact→part broadcast join; both sums are "
        "exact-decimal, the ratio is one identical double division",
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    promo = f"CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC} ELSE {_DISC_ZERO} END"
    return (
        t["lineitem"]
        .join(broadcast(t["part"].select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year(F.to_date("l_shipdate")).alias("yr"))
        .agg(
            sx(C.sum_exact(promo, "promo_revenue")),
            sx(C.sum_exact(_DISC, "total_revenue")),
            sx(f"ROUND(CAST(SUM({promo}) AS DOUBLE) * CAST(100 AS DOUBLE)"
               f" / CAST(SUM({_DISC}) AS DOUBLE), 6) AS promo_pct"),
        )
    )


# ------------------------------------------------------------- Q15 shape

_TOP_SUPPLIER_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey, {C.sum_exact(_DISC, 'total_rev')}
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)"""


@register(
    "top_supplier",
    _TOP_SUPPLIER_ORACLE,
    doc="TPC-H Q15 shape: grouped revenue view + selection against its own "
        "global MAX (scalar subquery over an aggregate); ties all surface, "
        "so the result is deterministic without a tiebreak. The 1-row max "
        "is a broadcast, the per-supplier rollup is one hash aggregate",
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    rev = (
        t["lineitem"]
        .filter(F.to_date("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy("l_suppkey")
        .agg(sx(C.sum_exact(_DISC, "total_rev")))
        # rev feeds both the MAX anchor and the final join — materialize
        # the supplier-count-sized aggregate once or lineitem scans twice
        # receipt: unstaged/staged 1.24× at 10×
        # (reports/receipts/nockpt_10x_tpch.json)
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# ------------------------------------------------------------- Q18 shape

_BIG_ORDERS_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS {C.MONEY})) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS {C.MONEY})) > 250)
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_totalprice AS totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey"""


@register(
    "big_order_customers",
    _BIG_ORDERS_ORACLE,
    doc="TPC-H Q18 shape: HAVING over a grouped decimal sum (orders whose "
        "line quantity exceeds 250) feeding a join back to orders and "
        "customer — the aggregate prunes ~99% of orderkeys before any "
        "wide-row join happens, so the expensive joins see only survivors",
    bench=True,
)
def big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    qty = f"CAST(l_quantity AS {C.MONEY})"
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.expr(f"SUM({qty})").alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
        .select("l_orderkey", F.expr("CAST(qty_dec AS DOUBLE)").alias("total_qty"))
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "total_qty",
        )
    )


# ------------------------------------------------------------- Q22 shape

_SALES_OPP_ORACLE = f"""
SELECT CAST(c_custkey % 25 AS INT) AS cc, COUNT(*) AS cnt,
       {C.sum_exact(C.money('c_acctbal'), 'total_bal')}
FROM customer c
WHERE c_acctbal > (
        SELECT CAST(SUM({C.money('c_acctbal')}) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY 1"""


@register(
    "sales_opportunity",
    _SALES_OPP_ORACLE,
    doc="TPC-H Q22 shape: uncorrelated scalar subquery (exact-decimal "
        "average positive balance) gating an anti join (above-average-"
        "balance customers who never placed a >$300k order), grouped by a "
        "derived country code (custkey mod 25 — the synthetic schema has "
        "no phone column). The scalar is a 1-row broadcast; the anti join "
        "pre-filters the order side before shuffling on the customer key",
)
def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.expr(
            f"CAST(SUM({C.money('c_acctbal')}) AS DOUBLE) / COUNT(*)"
        ).alias("avg_bal"))
    )
    return (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_totalprice") > 300000),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy(F.expr("CAST(c_custkey % 25 AS INT)").alias("cc"))
        .agg(sx(C.count_star()), sx(C.sum_exact(C.money("c_acctbal"), "total_bal")))
    )


# ------------------------------------------------------------- Q11 shape

_BRAND_SHARE_ORACLE = f"""
WITH br AS (
  SELECT p_brand, SUM({_DISC}) AS rev_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand),
tot AS (SELECT SUM(rev_dec) AS t FROM br)
SELECT p_brand, CAST(rev_dec AS DOUBLE) AS revenue,
       ROUND(CAST(rev_dec AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM br, tot
WHERE CAST(rev_dec AS DOUBLE)
      > CAST(t AS DOUBLE) * CAST(4 AS DOUBLE) / CAST(100 AS DOUBLE)"""


@register(
    "brand_revenue_share",
    _BRAND_SHARE_ORACLE,
    doc="TPC-H Q11 shape: groups kept only when their aggregate exceeds a "
        "fraction of the grand total (scalar subquery over the same "
        "aggregate) — brands above a 4% revenue share. Two passes over the "
        "small grouped result, one pass over the fact; the total is a "
        "1-row broadcast. Division happens once on identical doubles",
)
def brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    br = (
        t["lineitem"]
        .join(broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.expr(f"SUM({_DISC})").alias("rev_dec"))
        # br feeds both the grand-total anchor and the share filter, but
        # staging it did not pay (unstaged/staged 0.84× at the 10× tier,
        # 0.88× at 100×; reports/receipts/nockpt_*)
    )
    tot = br.agg(F.sum("rev_dec").alias("t"))
    return (
        br.join(broadcast(tot))
        .filter(F.expr(
            "CAST(rev_dec AS DOUBLE)"
            " > CAST(t AS DOUBLE) * CAST(4 AS DOUBLE) / CAST(100 AS DOUBLE)"))
        .select(
            "p_brand",
            F.expr("CAST(rev_dec AS DOUBLE)").alias("revenue"),
            F.expr("ROUND(CAST(rev_dec AS DOUBLE) / CAST(t AS DOUBLE), 6)").alias("share"),
        )
    )


# ------------------------------------------- date-spine gap fill (A3 ext)

_GAPFILL_ORACLE = f"""
WITH spine AS (
  SELECT CAST(d AS DATE) AS day
  FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY) t(d)),
cnts AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c,
         {C.sum_exact(C.fine('o_totalprice'), 'r')}
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
  GROUP BY 1)
SELECT s.day, CAST(COALESCE(c, 0) AS BIGINT) AS cnt,
       COALESCE(r, CAST(0 AS DOUBLE)) AS revenue
FROM spine s LEFT JOIN cnts USING (day)"""


@register(
    "daily_series_gapfill",
    _GAPFILL_ORACLE,
    doc="A3 extension: zero-filled daily series over a generated date spine "
        "(sequence+explode) — the time-series idiom the reference's daily "
        "chart silently gets wrong on empty days (app.py:287-300 skips "
        "them). The fact side aggregates to one row per day BEFORE the "
        "join and broadcasts (the build side of a left-outer join must "
        "be the right side)",
)
def daily_series_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cnts = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.to_date("o_orderdate").between("1995-01-01", "1995-03-31")
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(sx(C.count_star("c")), sx(C.sum_exact(C.fine("o_totalprice"), "r")))
    )
    spine = spark.sql(
        "SELECT explode(sequence(DATE '1995-01-01', DATE '1995-03-31',"
        " INTERVAL 1 DAY)) AS day"
    )
    return (
        spine
        .join(broadcast(cnts), "day", "left")
        .select(
            "day",
            F.expr("CAST(COALESCE(c, 0) AS BIGINT)").alias("cnt"),
            F.expr("COALESCE(r, CAST(0 AS DOUBLE))").alias("revenue"),
        )
    )


# ------------------------------------------------------------- Q12 shape


def _ship_delay_sql(engine: str) -> str:
    """Order→ship delay in whole days via epoch-day indices (DATE-cast
    based, so TIMESTAMP_NTZ parquet columns work — unix_micros rejects
    them), bucketed, with Q12's priority-class conditional counts inside
    each bucket."""
    from . import dialect as D

    d_ship = D.epoch_day("l_shipdate", engine)
    d_ord = D.epoch_day("o_orderdate", engine)
    return f"""
    WITH delays AS (
      SELECT ({d_ship}) - ({d_ord}) AS delay_days, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT CASE WHEN delay_days < 30 THEN 'lt_30d'
                WHEN delay_days < 60 THEN 'lt_60d'
                WHEN delay_days < 90 THEN 'lt_90d'
                ELSE 'ge_90d' END AS delay_bucket,
           COUNT(*) AS line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
           CAST(MIN(delay_days) AS BIGINT) AS min_delay,
           CAST(MAX(delay_days) AS BIGINT) AS max_delay
    FROM delays GROUP BY 1"""


@register(
    "shipping_delay_profile",
    _ship_delay_sql("duck"),
    doc="TPC-H Q12 shape: order→ship delay distribution — integer-day "
        "delay from epoch-µs day indices (drift-proof across parquet "
        "timestamp precisions), CASE-bucketed, with urgent/high vs other "
        "priority conditional counts per bucket. One fact join + one "
        "map-side-combined hash aggregate; all-integer arithmetic",
)
def shipping_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_tables as _lt

    t = _lt(spark, sf_dir, "lineitem", "orders")
    t["lineitem"].createOrReplaceTempView("bq_q12_lineitem")
    t["orders"].createOrReplaceTempView("bq_q12_orders")
    sql = _ship_delay_sql("spark").replace(
        "FROM lineitem JOIN orders", "FROM bq_q12_lineitem JOIN bq_q12_orders"
    )
    return spark.sql(sql)


# ------------------------------------------------------------- Q13 shape

_CUSTDIST_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC"""


@register(
    "customer_order_distribution",
    _CUSTDIST_ORACLE,
    doc="TPC-H Q13 shape: group-by ON an aggregate — per-customer order "
        "count through a CONDITIONAL left outer join (the predicate "
        "rides the join condition, not a post-filter, so customers whose "
        "only orders are urgent still count as zero), then the "
        "distribution of those counts. Two hash aggregates, one outer "
        "shuffle join; COUNT(o_orderkey) counts matches, not rows",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(
            t["orders"],
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ------------------------------------------------------------- Q17 shape

_SMALL_QTY_ORACLE = f"""
SELECT p_brand,
       {C.sum_exact(C.money('l_extendedprice'), 'small_qty_revenue')},
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN (SELECT l_partkey AS pk, SUM(l_quantity) AS sq, COUNT(*) AS cq
      FROM lineitem GROUP BY l_partkey) a
  ON l.l_partkey = a.pk
WHERE p.p_brand IN ('Brand#2', 'Brand#4')
  AND l.l_quantity * 5 * a.cq < a.sq
GROUP BY p_brand
ORDER BY p_brand"""


@register(
    "small_quantity_revenue",
    _SMALL_QTY_ORACLE,
    doc="TPC-H Q17 shape: correlated per-part average threshold "
        "(qty < 0.2·avg) restructured DIVISION-FREE as "
        "5·qty·cnt < sum — integral doubles stay exact in both engines "
        "where 0.2·AVG(decimal) would widen differently (Spark decimal "
        "avg adds scale 4, DuckDB differs — the compat.py discipline). "
        "Per-part aggregate joins back to the fact on the SAME key, so "
        "the two scans co-partition; brand dim filter broadcasts",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    per_part = (
        t["lineitem"].groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum("l_quantity").alias("sq"), F.count("*").alias("cq"))
    )
    brands = t["part"].filter(F.col("p_brand").isin("Brand#2", "Brand#4"))
    return (
        t["lineitem"]
        .join(broadcast(brands), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") * 5 * F.col("cq") < F.col("sq"))
        .groupBy("p_brand")
        .agg(
            sx(C.sum_exact(C.money("l_extendedprice"), "small_qty_revenue")),
            F.count("*").cast("bigint").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


# -------------------------------------------------------------- Q4 shape

_PRIORITY_WAIT_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE year(CAST(o_orderdate AS DATE)) = 1995
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""


@register(
    "late_ship_priorities",
    _PRIORITY_WAIT_ORACLE,
    doc="TPC-H Q4 shape (adapted to this schema's dates: ship > order "
        "+ 30 days stands in for receipt > commit): EXISTS decorrelates "
        "to a left-semi join on orderkey with the date comparison as a "
        "residual — the year filter prunes orders BEFORE the semi join, "
        "and no lineitem columns survive it, so the join carries keys "
        "and two dates only",
)
def late_ship_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].filter(F.expr("year(CAST(o_orderdate AS DATE)) = 1995"))
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & F.expr(
        "CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY"
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ------------------------------------------------------------- Q16 shape

_SUPPLIER_CNT_ORACLE = """
SELECT p_brand, CAST(p_size AS INT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size"""


@register(
    "supplier_part_counts",
    _SUPPLIER_CNT_ORACLE,
    doc="TPC-H Q16 shape (partsupp stood in by lineitem's supplier-part "
        "pairs): COUNT(DISTINCT) per group behind a NOT IN exclusion "
        "subquery — NOT IN is NULL-AWARE (one NULL in the subquery "
        "empties the result), which Spark plans as a broadcast "
        "null-aware anti join (the exclusion set is tiny); the distinct "
        "agg is one Expand + two-level hash aggregate",
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    t["lineitem"].createOrReplaceTempView("bq_q16_lineitem")
    t["part"].createOrReplaceTempView("bq_q16_part")
    t["supplier"].createOrReplaceTempView("bq_q16_supplier")
    # the NOT IN null-aware semantics are exactly what SQL expresses;
    # hand-rolling them as DataFrame ops would re-implement NAAJ —
    # shared text, dialect-neutral
    return spark.sql(
        _SUPPLIER_CNT_ORACLE.replace(" lineitem", " bq_q16_lineitem")
        .replace(" part ", " bq_q16_part ")
        .replace(" supplier ", " bq_q16_supplier ")
    )


# ------------------------------------------------------------- Q20 shape

_EXCESS_SUPPLIER_ORACLE = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT sp.l_suppkey
  FROM (SELECT l_suppkey, l_partkey, SUM(l_quantity) AS spq
        FROM lineitem GROUP BY l_suppkey, l_partkey) sp
  JOIN (SELECT l_partkey AS pk, SUM(l_quantity) AS pq
        FROM lineitem GROUP BY l_partkey) p
    ON sp.l_partkey = p.pk
  WHERE sp.spq * 5 > p.pq)
ORDER BY s.s_suppkey"""


@register(
    "dominant_part_suppliers",
    _EXCESS_SUPPLIER_ORACLE,
    doc="TPC-H Q20 shape: nested-aggregate semi-join chain — suppliers "
        "shipping over a fifth of any part's total quantity (threshold "
        "tuned to the synthetic fixture: max share is 0.37/0.245 at "
        "sf0.001/0.01, so the classic >1/2 was a vacuous 0-row check — "
        "r4 verdict finding #1). Two aggregates "
        "over the SAME scan share their shuffle key prefix "
        "(l_partkey ⊂ (l_suppkey, l_partkey)); the threshold is "
        "division-free (spq·5 > pq — integral doubles stay exact where "
        "a fraction would round differently per engine); IN decorrelates "
        "to a left-semi join against the tiny winner set",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    sp = (
        t["lineitem"].groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("spq"))
    )
    per_part = (
        t["lineitem"].groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum("l_quantity").alias("pq"))
    )
    winners = (
        sp.join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("spq") * 5 > F.col("pq"))
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(winners, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ------------------------------------------------------------- Q21 shape

_SOLE_LATE_ORACLE = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND CAST(l3.l_shipdate AS DATE)
                        > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name"""


@register(
    "sole_late_suppliers",
    _SOLE_LATE_ORACLE,
    doc="TPC-H Q21 shape (ship > order + 60 days stands in for receipt "
        "> commit): EXISTS + doubly-correlated NOT EXISTS. The oracle "
        "keeps the textbook correlated form; the Spark side decomposes "
        "it into ONE per-order aggregate (distinct suppliers, distinct "
        "LATE suppliers — conditional COUNT(DISTINCT) in the same pass) "
        "joined back to the late rows: a row qualifies iff its order has "
        ">1 supplier and exactly 1 late one. Same row multiset, no "
        "correlated-subquery re-scans of lineitem",
)
def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    o = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = (
        t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "late",
            F.expr(
                "CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY"
            ),
        )
        # li feeds per_order AND the qualifying filter through a
        # non-exchange frontier (the orders side broadcasts), so the
        # scan+join recomputed once per branch (r12 executed-plan audit:
        # lineitem×2/orders×2, 0 reuse); narrow to what both consumers
        # need and stage lazily
        .select("l_orderkey", "l_suppkey", "late")
        # receipt: unstaged/staged 1.11× at 10×
        # (reports/receipts/nockpt_10x_tpch.json)
        .localCheckpoint(eager=False)
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    qualifying = (
        li.filter(F.col("late"))
        .join(per_order, F.col("l_orderkey") == F.col("ok"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        qualifying.join(
            broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# -------------------------------------------------------------- Q7 shape

_TRADE_VOLUME_ORACLE = f"""
SELECT supp_nation, cust_nation, yr,
       {C.sum_exact('vol', 'volume')},
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS yr,
         {_DISC} AS vol
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping
GROUP BY supp_nation, cust_nation, yr
ORDER BY supp_nation, cust_nation, yr"""


@register(
    "nation_trade_volume",
    _TRADE_VOLUME_ORACLE,
    doc="TPC-H Q7 shape: bilateral trade volume between two named "
        "nations by year — the disjunctive two-sided nation predicate "
        "rides the (broadcast) nation joins, so the fact tables are "
        "pruned to the two nations' rows BEFORE the yearly aggregate; "
        "exact-decimal volume",
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier",
                    "customer", "nation")
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1k"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2k"),
                            F.col("n_name").alias("cust_nation"))
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(n1), F.col("s_nationkey") == F.col("n1k"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("n2k"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .select(
            "supp_nation", "cust_nation",
            F.expr("CAST(year(CAST(o_orderdate AS DATE)) AS INT)").alias("yr"),
            F.expr(_DISC).alias("vol"),
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "yr")
        .agg(
            sx(C.sum_exact("vol", "volume")),
            F.count("*").cast("bigint").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


# -------------------------------------------------------------- Q9 shape

_PROFIT_ORACLE = f"""
SELECT nation, yr, {C.sum_exact('amount', 'sum_profit')}
FROM (
  SELECT n.n_name AS nation,
         CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS yr,
         {_DISC} - {C.money('p.p_retailprice')} * {C.rate('0.01')}
           * CAST(l.l_quantity AS DECIMAL(12, 2)) AS amount
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN part p     ON l.l_partkey  = p.p_partkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%gear%') profit
GROUP BY nation, yr
ORDER BY nation, yr"""


@register(
    "nation_profit_rollup",
    _PROFIT_ORACLE,
    doc="TPC-H Q9 shape (partsupp's supplycost stood in by 1% of "
        "p_retailprice — same expression class: revenue minus quantity-"
        "scaled cost, all exact DECIMAL so the mixed product can't drift "
        "per engine): five-table join with a LIKE-filtered part dim and "
        "a per-(nation, year) profit rollup (pattern '%gear%' matches the "
        "synthetic color-noun part names — '%5%' matched nothing, a "
        "vacuous 0-row check, r4 verdict finding #1). Part/supplier/nation "
        "broadcast; the fact shuffles once for the aggregate",
)
def nation_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "part",
                    "supplier", "nation")
    amount = (
        f"{_DISC} - {C.money('p_retailprice')} * {C.rate('0.01')}"
        " * CAST(l_quantity AS DECIMAL(12, 2))"
    )
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["part"].filter(F.col("p_name").like("%gear%"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(year(CAST(o_orderdate AS DATE)) AS INT)").alias("yr"),
            F.expr(amount).alias("amount"),
        )
    )
    return (
        joined.groupBy("nation", "yr")
        .agg(sx(C.sum_exact("amount", "sum_profit")))
        .orderBy("nation", "yr")
    )


# -------------------------------------------------------------- Q6 shape

_FORECAST_ORACLE = f"""
SELECT {C.sum_exact(f"{C.money('l_extendedprice')} * {C.rate('l_discount')}", 'revenue')},
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE year(CAST(l_shipdate AS DATE)) = 1995
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""


@register(
    "forecast_revenue_change",
    _FORECAST_ORACLE,
    doc="TPC-H Q6 shape: pure scan-filter-aggregate — the year/discount/"
        "quantity conjunction pushes to the parquet scan and the "
        "exact-decimal product SUMs map-side; the canonical 'how fast "
        "can you burn through the fact table' probe",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.expr("year(CAST(l_shipdate AS DATE))") == 1995)
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            sx(C.sum_exact(
                f"{C.money('l_extendedprice')} * {C.rate('l_discount')}",
                "revenue",
            )),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


# -------------------------------------------------------------- Q8 shape

_MARKET_SHARE_ORACLE = f"""
SELECT yr,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                           ELSE {_DISC_ZERO} END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
       {C.sum_exact('vol', 'total_volume')}
FROM (
  SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS yr,
         n1.n_name AS supp_nation,
         {_DISC} AS vol
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE') all_sales
GROUP BY yr
ORDER BY yr"""


@register(
    "nation_market_share",
    _MARKET_SHARE_ORACLE,
    doc="TPC-H Q8 shape: one nation's market share inside one region's "
        "customer base by year — conditional share numerator over the "
        "same exact-decimal volume as the denominator (CASE arms share "
        "one decimal type so neither engine widens differently), ratio "
        "taken once in double at the end",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "supplier", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"bq_q8_{t}")
    sql = _MARKET_SHARE_ORACLE
    for t in ("lineitem", "orders", "supplier", "customer"):
        sql = sql.replace(f" {t} ", f" bq_q8_{t} ")
    sql = sql.replace(" nation n1", " bq_q8_nation n1").replace(
        " nation n2", " bq_q8_nation n2"
    ).replace(" region r ", " bq_q8_region r ")
    return spark.sql(sql)


# ------------------------------------------------------------- Q10 shape

_RETURNED_ORACLE = f"""
SELECT c.c_custkey, c.c_name,
       {C.sum_exact(_DISC, 'revenue')},
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag = 'R'
  AND year(CAST(o.o_orderdate AS DATE)) = 1995
GROUP BY c.c_custkey, c.c_name
ORDER BY CAST(SUM({_DISC}) AS DOUBLE) DESC, c.c_custkey
LIMIT 20"""


@register(
    "returned_item_customers",
    _RETURNED_ORACLE,
    doc="TPC-H Q10 shape: top-20 customers by RETURNED revenue in one "
        "year — selective fact filters feed a grouped decimal sum, then "
        "TakeOrderedAndProject keeps the top slice (custkey tiebreak "
        "makes the LIMIT deterministic across engines)",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    joined = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"].filter(
            F.expr("year(CAST(o_orderdate AS DATE)) = 1995")),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name").agg(
        F.expr(f"SUM({_DISC})").alias("rev_dec"),
        F.count("*").cast("bigint").alias("n_lines"),
    )
    return (
        agg.select(
            "c_custkey", "c_name",
            F.expr("CAST(rev_dec AS DOUBLE)").alias("revenue"),
            "n_lines",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ------------------------------------------------------------- Q19 shape

_BRACKET_ORACLE = f"""
SELECT {C.sum_exact(_DISC, 'revenue')}, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 20 AND 30)"""


@register(
    "bracket_predicate_revenue",
    _BRACKET_ORACLE,
    doc="TPC-H Q19 shape: disjunction of conjunctive brackets spanning "
        "BOTH join sides — Catalyst extracts the common p_partkey "
        "equi-key so it still plans a hash join (broadcast part side) "
        "with the OR-of-ANDs as a residual, never a nested loop",
)
def bracket_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    joined = t["lineitem"].join(
        broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(bracket).agg(
        sx(C.sum_exact(_DISC, "revenue")),
        F.count("*").cast("bigint").alias("n_lines"),
    )


# -------------------------------------------------------------- Q2 shape

_MIN_COST_ORACLE = f"""
WITH cost AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         MIN({C.money('l_extendedprice')}) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_brand, s_name, n_name, s_acctbal, cost
  FROM part
  JOIN cost ON pk = p_partkey
  JOIN eu ON s_suppkey = sk
  WHERE p_size <= 10 AND p_type = 'STANDARD'
)
SELECT CAST(x.s_acctbal AS DOUBLE) AS s_acctbal, x.s_name, x.n_name,
       x.p_partkey, x.p_brand, CAST(x.cost AS DOUBLE) AS min_cost
FROM cand x
WHERE x.cost = (SELECT MIN(y.cost) FROM cand y
                WHERE y.p_partkey = x.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100"""


@register(
    "min_cost_supplier",
    _MIN_COST_ORACLE,
    doc="TPC-H Q2 shape: minimum-cost supplier per part within one "
        "region — the correlated-MIN-subquery pattern (partsupp's "
        "supplycost stood in by the cheapest observed line price per "
        "supplier-part pair, exact DECIMAL so the min/equality never "
        "float-diverges). The oracle keeps Q2's correlated scalar "
        "subquery; the Spark side decorrelates it the way Catalyst "
        "would — per-part MIN aggregate broadcast-joined back on "
        "(partkey, cost). Dims broadcast; the only corpus-scale shuffle "
        "is the (partkey, suppkey) cost aggregate, map-side combinable. "
        "Deterministic LIMIT: the ORDER BY chain ends in the unique "
        "(n_name, s_name, p_partkey) triple",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation", "region")
    cost = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.min(F.expr(C.money("l_extendedprice"))).alias("cost"))
    )
    eu = (
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = t["part"].filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    cand = (
        cost.join(broadcast(parts), F.col("pk") == F.col("p_partkey"))
        .join(broadcast(eu), F.col("sk") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", "n_name", "s_acctbal", "cost")
    )
    best = cand.groupBy(F.col("p_partkey").alias("bpk")).agg(
        F.min("cost").alias("mincost")
    )
    return (
        cand.join(
            broadcast(best),
            (F.col("p_partkey") == F.col("bpk"))
            & (F.col("cost") == F.col("mincost")),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("cost").cast("double").alias("min_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )
