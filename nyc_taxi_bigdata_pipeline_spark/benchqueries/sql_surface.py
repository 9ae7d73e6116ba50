"""Relational-surface extensions: INTERSECT/EXCEPT set ops, deterministic
argmax via struct MAX, NTILE equi-depth binning, and native unpivot
(long→wide inverse of reshape.pivot_priority_by_year).

The reference's only set operation is the PU∪DO union-distinct
(dw_load_incremental.sql:22-32, covered by union_distinct_keys); this
module exposes the rest of the standard set/reshape algebra a SQL user
expects from the engine. Spark sides use the native DataFrame operators
(intersect/subtract/unpivot/max(struct)) so Catalyst plans them as
hash-aggregate set ops and a single Expand — never driver-side loops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import compat as C
from ..sources.tables import load_table
from . import dialect as D
from .registry import register

# ------------------------------------------------------- set operations

_SET_OPS_ORACLE = """
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1995),
     c96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1996)
SELECT 'both_years' AS cohort, COUNT(*) AS custs
FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96) b
UNION ALL
SELECT 'only_1995' AS cohort, COUNT(*) AS custs
FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96) o
UNION ALL
SELECT 'either_year' AS cohort, COUNT(*) AS custs
FROM (SELECT * FROM c95 UNION SELECT * FROM c96) e"""


@register(
    "set_ops_customer_years",
    _SET_OPS_ORACLE,
    doc="§2.7 extension: INTERSECT / EXCEPT / UNION-distinct over yearly "
        "customer key sets via the native DataFrame set operators (planned "
        "as hash aggregates — each cohort is one shuffle on the key)",
)
def set_ops_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def keys(year: int) -> DataFrame:
        # each cohort participates in three set ops; materialize the
        # small distinct key set once (CLAUDE.md CTE-inlining pitfall:
        # without this, orders is scanned SIX times — 2 cohorts × 3 ops)
        return (
            o.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
            # receipt: unstaged/staged 0.96× at 10×, 1.15× at 100×
            # (reports/receipts/nockpt_10x_tpch.json, nockpt_100x_set_ops_customer_years.json)
            .localCheckpoint(eager=False)
        )

    c95, c96 = keys(1995), keys(1996)

    def counted(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.lit(tag).alias("cohort"), F.count("*").alias("custs"))

    return (
        counted(c95.intersect(c96), "both_years")
        .unionAll(counted(c95.subtract(c96), "only_1995"))
        .unionAll(counted(c95.union(c96).distinct(), "either_year"))
    )


# --------------------------------------------- deterministic argmax

# struct MAX compares field-by-field in declaration order, so appending
# the unique key as the second field makes ties impossible — the same
# trick in both engines (Spark named_struct ordering ≡ DuckDB struct
# ordering for (double, bigint)).
_ARGMAX_ORACLE = """
SELECT o_custkey,
       (max({'p': o_totalprice, 'k': o_orderkey})).p AS best_price,
       (max({'p': o_totalprice, 'k': o_orderkey})).k AS best_orderkey
FROM orders GROUP BY o_custkey"""


@register(
    "argmax_order_per_cust",
    _ARGMAX_ORACLE,
    doc="§2.4 extension: per-group argmax (each customer's most expensive "
        "order) via MAX over a (value, unique-key) struct — one hash "
        "aggregate with map-side combine, no window sort; the key field "
        "breaks ties so the result is deterministic in both engines",
)
def argmax_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    best = F.max(
        F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    )
    return (
        o.groupBy("o_custkey")
        .agg(best.alias("m"))
        .select(
            "o_custkey",
            F.col("m.p").alias("best_price"),
            F.col("m.k").alias("best_orderkey"),
        )
    )


# --------------------------------------------------- NTILE equi-depth bins

_NTILE_ORACLE = f"""
WITH t AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT CAST(decile AS INT) AS decile, COUNT(*) AS cnt,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       {C.sum_exact(C.fine('o_totalprice'), 'total')}
FROM t GROUP BY decile"""


@register(
    "ntile_equidepth",
    _NTILE_ORACLE,
    doc="§2.5 extension: NTILE(10) equi-depth binning of order prices with "
        "a unique-key tiebreak so bin membership is deterministic. NOTE the "
        "unpartitioned ORDER BY is a single-partition sort — correct but the "
        "100-TB path is percentile-boundary binning (see percentiles / "
        "price_buckets); this query pins the NTILE surface itself",
)
def ntile_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bq_ntile_orders")
    return spark.sql(_NTILE_ORACLE.replace("FROM orders", "FROM bq_ntile_orders"))


# ------------------------------------------------------------- unpivot

_UNPIVOT_ORACLE = """
WITH w AS (
  SELECT n.n_nationkey, n.n_name AS nation,
         (SELECT COUNT(*) FROM customer c
           WHERE c.c_nationkey = n.n_nationkey) AS customers,
         (SELECT COUNT(*) FROM supplier s
           WHERE s.s_nationkey = n.n_nationkey) AS suppliers
  FROM nation n
)
SELECT nation, 'customers' AS metric, customers AS val FROM w
UNION ALL
SELECT nation, 'suppliers' AS metric, suppliers AS val FROM w"""


@register(
    "unpivot_nation_metrics",
    _UNPIVOT_ORACLE,
    doc="§2.4 extension: unpivot (wide→long, the inverse of "
        "pivot_priority_by_year) via the native DataFrame unpivot/melt — "
        "Catalyst plans one Expand over the wide row, not N self-unions; "
        "the wide input is two broadcast-joined dim counts",
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cust = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("customers")
    )
    supp = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("suppliers")
    )
    wide = (
        n.join(F.broadcast(cust), n.n_nationkey == cust.nk, "left")
        .join(F.broadcast(supp), n.n_nationkey == supp.nk, "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("customers", F.lit(0)).alias("customers"),
            F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
        )
    )
    return wide.unpivot(
        ids=["nation"],
        values=["customers", "suppliers"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ----------------------------------------------- recursive CTE (Spark 4)

def _hierarchy_sql(engine: str, customer: str) -> str:
    """Recursive-CTE hierarchy walk over a synthetic customer tree
    (parent key = key DIV 10, roots are keys < 10 — every key has a
    smaller parent, so the recursion provably terminates at depth
    ~log10(|customer|)). Spark 4's native WITH RECURSIVE iterates the
    anchor+step as DataFrame loops under the hood — each level is one
    equi-join against the previous level only, never the whole closure;
    the same plan an iterative operator (operators/graph.py) would
    build by hand."""
    div = D.idiv("c.c_custkey", "10", engine)
    return f"""
    WITH RECURSIVE tree AS (
      SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
      FROM {customer} WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey AS node, t.root AS root, t.depth + 1 AS depth
      FROM {customer} c JOIN tree t ON {div} = t.node
      WHERE c.c_custkey >= 10
    )
    SELECT CAST(depth AS INT) AS depth, COUNT(*) AS nodes,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS roots,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM tree GROUP BY depth"""


@register(
    "recursive_hierarchy_depth",
    _hierarchy_sql(D.DUCK, "customer"),
    doc="§2.2 extension: recursive CTE (WITH RECURSIVE, native in Spark 4) "
        "— per-depth rollup of a synthetic customer hierarchy (parent = "
        "key DIV 10). Each recursion level joins only the PREVIOUS level "
        "to the base table (never the growing closure), so the distributed "
        "cost is |levels| bounded equi-joins — the declarative twin of the "
        "engine's iterative-DataFrame operators",
)
def recursive_hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("bq_rec_cust")
    return spark.sql(_hierarchy_sql(D.SPARK, "bq_rec_cust"))


# ------------------------------------------- LATERAL correlated subquery

_LATERAL_SQL = """
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM {customer} c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM {orders} o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t"""


@register(
    "lateral_top_orders",
    _LATERAL_SQL.format(customer="customer", orders="orders"),
    doc="§2.3 extension: correlated LATERAL subquery with per-row ORDER BY "
        "+ LIMIT (each customer's two most expensive orders) — the same "
        "text runs on both engines. Catalyst decorrelates the lateral into "
        "a ranked window over one customer-keyed shuffle (no per-row "
        "re-execution); the unique-key tiebreak makes the top-2 "
        "deterministic",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("bq_lat_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bq_lat_ord")
    return spark.sql(_LATERAL_SQL.format(customer="bq_lat_cust", orders="bq_lat_ord"))
