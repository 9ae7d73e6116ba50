"""Graph analytics over the relational tables: weighted PageRank on the
nation-level trade graph (supplier nation → customer nation, weighted by
shipped lineitems), oracle-checked bit-for-bit.

Float PageRank can't hash-match across engines, so the ranks use the
fixed-point-integer formulation of ``operators/graph.pagerank_fixed_point``
(rank mass ``SCALE`` per node; every step integer ×, truncating ÷, integer
Σ). The DuckDB oracle unrolls the same three synchronous iterations as
chained CTEs — any arithmetic drift between engines fails the hash gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import SCALE, pagerank_fixed_point
from ..sources.tables import load_table
from .registry import register

_ITER = 3
_DAMP = 85
_BASE = (100 - _DAMP) * SCALE // 100

_EDGES_SQL = """
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  GROUP BY s.s_nationkey, c.c_nationkey"""


def _iter_ctes() -> str:
    out = []
    for i in range(_ITER):
        prev, cur = f"r{i}", f"r{i + 1}"
        out.append(
            f"""c{i + 1} AS (
  SELECT e.dst AS n, CAST(SUM(p.r * e.w // d.totw) AS BIGINT) AS c
  FROM edges e JOIN {prev} p ON p.n = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst),
{cur} AS (
  SELECT nodes.n,
         CAST({_BASE} + ({_DAMP} * COALESCE(c{i + 1}.c, 0)) // 100 AS BIGINT) AS r
  FROM nodes LEFT JOIN c{i + 1} ON c{i + 1}.n = nodes.n)"""
        )
    return ",\n".join(out)


_PAGERANK_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS totw FROM edges GROUP BY src),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT n, CAST({SCALE} AS BIGINT) AS r FROM nodes),
{_iter_ctes()}
SELECT nat.n_name, fin.r AS rank_fp,
       CAST(fin.r AS DOUBLE) / {SCALE} AS rank
FROM r{_ITER} fin JOIN nation nat ON nat.n_nationkey = fin.n"""


@register(
    "graph_pagerank_nations",
    _PAGERANK_ORACLE,
    doc="beyond-reference: iterative graph algorithm — weighted PageRank "
        "over the supplier→customer nation trade graph in fixed-point "
        "integer arithmetic (operators/graph.py), 3 synchronous steps as a "
        "DataFrame loop (per-step persist bounds lineage; rank vector "
        "broadcast, contributions one keyed shuffle per step); DuckDB "
        "oracle unrolls the identical iterations as CTEs, hash-exact",
    bench=True,
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")

    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    # nation keys bound the node count at 25 AT ANY DATA SCALE, so the
    # hint is honest at 100 TB: it skips the count() strategy probe (a
    # full edge-build materialization barrier) — the whole query is one
    # job of broadcast joins + the rank chain
    ranks = pagerank_fixed_point(
        edges, iterations=_ITER, damping_pct=_DAMP, n_nodes_hint=25
    )
    return ranks.join(F.broadcast(nat), ranks["n"] == nat["n_nationkey"]).select(
        "n_name",
        F.col("r").alias("rank_fp"),
        F.expr(f"CAST(r AS DOUBLE) / {SCALE}").alias("rank"),
    )


_TRIANGLE_ORACLE = f"""
WITH dir_edges AS ({_EDGES_SQL}),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM dir_edges WHERE src <> dst
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS edges,
       CAST((SELECT COUNT(*)
             FROM e e1 JOIN e e2 ON e2.a = e1.b
                       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
         AS triangles"""


@register(
    "graph_triangle_count",
    _TRIANGLE_ORACLE,
    doc="beyond-reference graph analytics: exact triangle count on the "
        "undirected nation trade graph — canonical a<b edge orientation "
        "makes each triangle count exactly once via two self-joins "
        "(wedge build + closing-edge probe). At web scale the standard "
        "refinement is DEGREE-based orientation (low-degree endpoint "
        "first) so wedge fan-out is bounded by sqrt-degeneracy instead "
        "of the hot vertex's degree; the id-ordered miniature here is "
        "the oracle-checkable shape",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    dir_edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
    )
    e = (
        dir_edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        # receipt: unstaged/staged 1.12× at 10×
        # (reports/receipts/nockpt_10x_graph_search_sketch.json)
        .localCheckpoint(eager=False)  # referenced 3× under different keys
    )
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("b2b"))
    e3 = e.select(F.col("a").alias("c3a"), F.col("b").alias("c3b"))
    # stay LAZY (registry-builder discipline): both scalars are 1-row
    # aggregates cross-joined into the result frame, so all the work —
    # including the shared lazy checkpoint of e — runs inside the
    # caller's single action, not at build time. The crossJoin is a
    # 1×1-row broadcast nested loop: free.
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("b2a"))
        .join(e3, (F.col("c3a") == F.col("e1.a")) & (F.col("c3b") == F.col("b2b")))
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    edges = e.agg(F.count("*").cast("bigint").alias("edges"))
    return edges.crossJoin(tri)


# ------------------------------------------------ BFS shortest hops

_BFS_ORACLE = """
WITH RECURSIVE base AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
edges AS (
  SELECT CAST(p * 2 AS BIGINT) AS src, CAST(s * 2 + 1 AS BIGINT) AS dst FROM base
  UNION ALL
  SELECT CAST(s * 2 + 1 AS BIGINT), CAST(p * 2 AS BIGINT) FROM base
),
bfs(node, dist) AS (
  SELECT CAST(2 AS BIGINT), 0
  UNION
  SELECT e.dst, b.dist + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.dist < 6
),
final AS (SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node)
SELECT CAST(dist AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node, CAST(MAX(node) AS BIGINT) AS max_node
FROM final GROUP BY dist ORDER BY dist"""


@register(
    "graph_bfs_hops",
    _BFS_ORACLE,
    doc="beyond-reference graph analytics: multi-level BFS min-hop "
        "distances over the bipartite part↔supplier graph (node space "
        "2·partkey / 2·suppkey+1), source = part 1, per-distance rollup. "
        "The Spark side is the ITERATIVE operator "
        "(operators/graph.bfs_distances — frontier-only edge joins, "
        "eager localCheckpoint per level, early exit on empty frontier); "
        "the oracle is DuckDB's declarative WITH RECURSIVE bounded at "
        "the same depth with a final MIN(dist) — two formulations, one "
        "hash. At scale each level's cost is frontier fan-out, not "
        "visited-set size; the anti join is the only touch of the "
        "accumulated set",
    bench=True,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_distances

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = (
        base.select(
            (F.col("p") * 2).cast("long").alias("src"),
            (F.col("s") * 2 + 1).cast("long").alias("dst"),
        )
        .union(
            base.select(
                (F.col("s") * 2 + 1).cast("long").alias("src"),
                (F.col("p") * 2).cast("long").alias("dst"),
            )
        )
    )
    sources = spark.range(1).select(F.lit(2).cast("long").alias("node"))
    dists = bfs_distances(edges, sources, max_hops=6)
    return (
        dists.groupBy(F.col("dist").cast("int").alias("dist"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("dist")
    )


# ------------------------------------------- global clustering coefficient

_CLUSTERING_ORACLE = f"""
WITH dir_edges AS ({_EDGES_SQL}),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM dir_edges WHERE src <> dst
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
  ) x GROUP BY v
),
w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges FROM deg),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT triangles, wedges,
       CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
         AS global_clustering
FROM t CROSS JOIN w"""


@register(
    "graph_clustering_coefficient",
    _CLUSTERING_ORACLE,
    doc="beyond-reference graph analytics: global clustering coefficient "
        "3·triangles / wedges on the undirected nation trade graph — "
        "wedges from the degree table (Σ C(d,2), integer-exact since "
        "d(d-1) is always even), triangles from the same canonical "
        "a<b two-self-join as graph_triangle_count, one final division",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    dir_edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
    )
    e = (
        dir_edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        # receipt: unstaged/staged 1.08× at 10×
        # (reports/receipts/nockpt_10x_graph_search_sketch.json)
        .localCheckpoint(eager=False)  # referenced 4x under different keys
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    wedges = deg.agg(
        F.expr("CAST(SUM(d * (d - 1) DIV 2) AS BIGINT)").alias("wedges")
    )
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("b2b"))
    e3 = e.select(F.col("a").alias("c3a"), F.col("b").alias("c3b"))
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("b2a"))
        .join(e3, (F.col("c3a") == F.col("e1.a")) & (F.col("c3b") == F.col("b2b")))
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return tri.crossJoin(wedges).select(
        "triangles",
        "wedges",
        F.expr("CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)").alias(
            "global_clustering"
        ),
    )


# ------------------------------------------- weighted shortest paths

_SSSP_ROUNDS = 6
# integer edge cost favoring high-traffic routes; exact in both engines
_COST = "1000000 // w + 1"


def _sssp_ctes() -> str:
    # AS MATERIALIZED (DuckDB-only text; the Spark side is the operator):
    # every d{i+1} references d{i} TWICE (carry branch + relax branch), so
    # an INLINING planner expands the chain 2^rounds-fold — at sf0.1 the
    # unhinted oracle spilled >80 GB of temp and died on disk (r10). The
    # hint pins each round to one tiny materialized relation.
    out = []
    for i in range(_SSSP_ROUNDS):
        out.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT n, CAST(MIN(d) AS BIGINT) AS d FROM (
    SELECT n, d FROM d{i}
    UNION ALL
    SELECT e.dst AS n, p.d + e.cost AS d
    FROM d{i} p JOIN edges e ON e.src = p.n
  ) u{i} GROUP BY n)"""
        )
    return ",\n".join(out)


_SSSP_ORACLE = f"""
WITH base AS MATERIALIZED ({_EDGES_SQL}),
edges AS MATERIALIZED (SELECT src, dst, CAST({_COST} AS BIGINT) AS cost
          FROM base WHERE src <> dst),
d0 AS (SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS d),
{_sssp_ctes()}
SELECT nat.n_name, fin.d AS dist
FROM d{_SSSP_ROUNDS} fin JOIN nation nat ON nat.n_nationkey = fin.n
ORDER BY dist, n_name"""


@register(
    "graph_shortest_paths",
    _SSSP_ORACLE,
    doc="beyond-reference graph analytics: weighted single-source "
        "shortest paths over the nation trade graph (integer edge cost "
        "1e6//w + 1 — heavy trade routes are cheap), source nation 0. "
        "The Spark side is the bounded-round Bellman–Ford operator "
        "(operators/graph.sssp_relax — one relax join + integer MIN "
        "aggregate per round, eager localCheckpoint, early exit on the "
        "exact (count, Σdist) fixpoint signature); the oracle unrolls "
        f"the same {_SSSP_ROUNDS} relaxations as chained CTEs (the "
        "PageRank idiom) — all-integer arithmetic, so the two "
        "formulations hash-match exactly",
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp_relax

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.expr("CAST(1000000 DIV w + 1 AS BIGINT)").alias("cost"))
    )
    sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    dists = sssp_relax(edges, sources, rounds=_SSSP_ROUNDS)
    return (
        dists.join(F.broadcast(nat), dists["node"] == nat["n_nationkey"])
        .select("n_name", F.col("dist").alias("dist"))
        .orderBy("dist", "n_name")
    )
