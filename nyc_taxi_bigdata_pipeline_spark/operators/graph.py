"""Iterative graph algorithms on DataFrames: fixed-point-integer PageRank.

Beyond-reference capability (the reference has no graph surface): rank
nodes of an edge table by weighted PageRank, expressed as a driver-side
loop of pure DataFrame joins/aggregates — the classic Pregel-style
iteration mapped onto Spark SQL. Connected components (operators/dedup
cluster collapse) covers the other common graph need.

Determinism across engines is the interesting part: float PageRank can
never hash-match an oracle (damping multiplies & order-dependent sums),
so ranks are kept in FIXED-POINT INTEGER arithmetic — rank mass starts
at ``scale`` per node and every step is integer multiply / truncating
divide / integer sum, all associative and engine-exact. The DuckDB
oracle unrolls the same iterations as chained CTEs and matches
bit-for-bit (benchqueries/graph_ops.py).

At scale: each iteration is one shuffle (contributions aggregated on
dst) plus a join of the rank vector against the edges. The rank vector
is broadcast ONLY while the node count stays under
``BROADCAST_NODES_MAX`` — web-scale graphs (10⁸–10⁹ nodes) exceed any
driver's broadcast budget, so past the threshold both per-step joins
fall back to shuffle equi-joins (one extra exchange per step, same
bit-exact result). PageRank and BFS read the constant at call time, so
tests and scripts/ab.py's ``set:`` arm pin the shuffle path by setting
it to 0. The rank frame is eagerly localCheckpointed per
iteration on the eager path (persist() would bound recompute but NOT
plan depth — the nested-plan stringification OOMs past ~10 steps), and
e/nodes are unpersisted on exit — no cache leak, no unbounded lineage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

SCALE = 10**12  # rank mass per node; 25 nodes × 1e12 × max-weight ≪ 2^63

# Above this node count the rank vector (and BFS's frontier / visited
# sets) stops being broadcast and the per-step joins become shuffle
# equi-joins. 2M rows × ~16 bytes ≈ 32 MB, comfortably under a default
# driver's broadcast ceiling.
BROADCAST_NODES_MAX = 2_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_nodes_hint: int | None = None,
) -> DataFrame:
    """Weighted PageRank over (src, dst, w) with integer fixed-point
    ranks; returns (node, rank) after ``iterations`` synchronous steps.

    r'(n) = (100-d)%·scale + d%·Σ_in( r(s)·w(s→n) ÷ totw(s) ), every op
    on BIGINTs with truncating division — bit-identical in any engine,
    any partitioning, and identical whether the rank vector is broadcast
    or shuffle-joined. Mass parked on out-degree-0 nodes is not
    redistributed — the simplified formulation the DuckDB oracle
    unrolls.

    The returned frame is materialized on both paths: persisted on the
    lazy one (re-enters the CacheManager — identical repeated queries
    reuse it; callers that keep it long-term own the unpersist),
    eagerly localCheckpointed on the eager one (O(1) plan depth).

    ``n_nodes_hint``: a caller-known UPPER BOUND on the node count
    (e.g. 25 for a nation-keyed graph at any data scale). It only picks
    the join strategy, so a correct bound cannot change results — but it
    removes the ``nodes.count()`` strategy probe, collapsing the whole
    small-graph query into ONE job (the probe is a full edge-build
    materialization barrier, ~30% of wall time on the 25-node bench
    graph).
    """
    # persist the raw edge frame FIRST: deg aggregates it and e joins it
    # back, so without this the caller's edge build (often an expensive
    # multi-table join) executes twice before the loop even starts
    raw = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).persist()
    deg = raw.groupBy("src").agg(F.sum("w").cast("bigint").alias("totw"))
    e = raw.join(deg, "src")  # static: weight share denominator rides along
    nodes = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
    )
    e = e.persist()
    nodes = nodes.persist()
    ranks = nodes.withColumn("r", F.lit(scale).cast("bigint"))
    try:
        # decides the join strategy (ranks / contrib both have ≤ n_nodes
        # rows) and, absent a hint, materializes the caches
        n_nodes = n_nodes_hint if n_nodes_hint is not None else nodes.count()
        small = n_nodes <= BROADCAST_NODES_MAX

        def rank_side(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        base = (100 - damping_pct) * scale // 100
        # Below the broadcast threshold the per-iteration materialization
        # is pure scheduler overhead: the rank chain is a linear lineage
        # over the CACHED edge frame, so one final job (the count before
        # return) evaluates all iterations while the caches still exist.
        # Past the threshold every step localCheckpoints — persist()
        # bounds RECOMPUTE but not the logical plan, and at depth ≳ 10
        # the nested InMemoryRelation chain blows up AQE's per-job plan
        # stringification (measured: OutOfMemoryError in explainString at
        # 12 iterations on a 3-node graph). Only an eager localCheckpoint
        # truncates lineage — the same fix as dedup cluster collapse.
        # Deep iteration counts on small graphs take the eager path too
        # (the lazy chain's planning cost grows with depth).
        lazy = small and iterations <= 10
        if not lazy:
            ranks = ranks.localCheckpoint(eager=True)
        for _ in range(iterations):
            contrib = (
                e.join(rank_side(ranks), e["src"] == ranks["n"])
                .select("dst", F.expr("r * w DIV totw").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").cast("bigint").alias("c"))
            )
            new_ranks = (
                nodes.join(rank_side(contrib), nodes["n"] == contrib["dst"], "left")
                .select(
                    "n",
                    # truncating DIV, not `/` (which is double division)
                    F.expr(
                        f"CAST({base} + ({damping_pct} * COALESCE(c, 0)) "
                        "DIV 100 AS BIGINT)"
                    ).alias("r"),
                )
            )
            if not lazy:
                # materialize AND truncate each step: the next join reads
                # a small checkpointed rank vector with an O(1) plan; the
                # previous step's checkpoint blocks are freed by the
                # ContextCleaner once the old frame is unreferenced
                new_ranks = new_ranks.localCheckpoint(eager=True)
            ranks = new_ranks
        if lazy:
            # evaluate the whole chain NOW, before the finally drops the
            # e/nodes caches it reads — one job, result persisted for
            # the caller. persist (not localCheckpoint) on purpose: the
            # persisted plan re-enters the CacheManager, so an identical
            # repeated query (dashboards, the bench's repeat passes)
            # reuses the 25-row result instead of rebuilding the edge
            # graph — measured 2.3 s → 1.6 s on the second pass. The
            # trade-off is a deeply nested formatted plan (≤10
            # iterations by the lazy gate, so bounded); the depth-OOM
            # class lives on the eager path, which checkpoints.
            ranks = ranks.persist()
            ranks.count()
        return ranks
    finally:
        raw.unpersist()
        e.unpersist()
        nodes.unpersist()


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` eagerly localCheckpointed, with its row count observed on
    the checkpoint job itself. The count needs that job: were the
    checkpoint a no-op (``scripts/ab.py``'s ``nockpt`` arm scoped to
    this line), the observation would never fire."""
    seen = Observation()
    cp = df.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return cp, seen.get["n"]


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single/multi-source BFS min-hop distances over an (src, dst)
    edge table: returns (node, dist) for every node reachable from
    ``sources`` (a one-column frame of node ids) within ``max_hops``.

    Pregel-lite as a driver loop: each level equi-joins the FRONTIER
    (nodes first reached last level — not the whole visited set)
    against the edges, left-anti-joins out already-visited nodes, and
    min-dedups the new frontier. The edge projection is lazily
    localCheckpointed ONCE before the loop (it is referenced every
    level — without the cut the caller's edge build, often a distinct
    over a corpus-scale table, re-executes per level). While the
    frontier / visited node sets stay under ``BROADCAST_NODES_MAX``
    they are broadcast (same threshold discipline as PageRank's rank
    vector: node-bounded frames, so past the threshold both joins fall
    back to shuffle equi-joins with identical results) — the edge
    table is then never shuffled, and the only per-level exchange is
    the min-dist aggregate over the frontier fan-out. Frontier sizes
    come free from an ``Observation`` on each frontier's checkpoint job
    (no separate count job per level) and double as the empty-frontier
    exit probe; visited size is the running sum (frontiers are disjoint
    by construction of the anti join).

    Iterative-loop hygiene (the PageRank depth-OOM lesson): each new
    frontier is eagerly localCheckpointed, so plan depth and recompute
    stay O(1) per level regardless of ``max_hops``; visited is a union
    of those checkpointed frontiers (≤ max_hops + 1 shallow branches —
    no per-level re-checkpoint of the whole visited set).

    Exact mirror of a bounded-depth recursive CTE with a final
    MIN(dist) per node (benchqueries/graph_ops.graph_bfs_hops pins the
    equivalence against DuckDB's WITH RECURSIVE).
    """
    frontier, n_frontier = _checkpoint_counted(
        sources.toDF("node").distinct().withColumn("dist", F.lit(0).cast("int"))
    )
    visited = frontier
    n_visited = n_frontier
    e = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("__nxt")
    ).localCheckpoint(eager=False)
    for _ in range(max_hops):
        f_in = (
            F.broadcast(frontier)
            if n_frontier <= BROADCAST_NODES_MAX
            else frontier
        )
        v_in = visited.select("node")
        if n_visited <= BROADCAST_NODES_MAX:
            v_in = F.broadcast(v_in)
        nxt, n_frontier = _checkpoint_counted(
            f_in.join(e, "node")
            .select(F.col("__nxt").alias("node"), (F.col("dist") + 1).alias("dist"))
            .join(v_in, "node", "left_anti")
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
        if n_frontier == 0:
            break
        visited = visited.unionByName(nxt)
        n_visited += n_frontier
        frontier = nxt
    return visited


def sssp_relax(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
) -> DataFrame:
    """Bounded-round Bellman–Ford single/multi-source shortest paths
    over an (src, dst, cost) edge table with non-negative INTEGER
    costs: returns (node, dist) for every node reachable from
    ``sources`` within ``rounds`` relaxations.

    Each round unions the current distance table with every edge's
    relaxation (dist[src] + cost) and min-aggregates per node — one
    shuffle join + one map-side-combinable aggregate, all integer
    arithmetic (no float accumulation to diverge from an oracle).
    ``rounds`` bounds path EDGE COUNT the way graph_bfs_hops bounds
    hops, so a bounded-unroll SQL oracle replays it exactly; rounds ≥
    diameter ⇒ true shortest paths. Early exit when a round changes
    nothing — an exact check on the integer (count, Σdist) signature,
    valid because the node set only grows and distances only fall.

    Iterative-loop hygiene (the PageRank depth-OOM lesson): the
    distance table is eagerly localCheckpointed every round.
    """
    dist = (
        sources.toDF("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    # referenced every round — without the cut the caller's edge build
    # (often a corpus-scale join/distinct) re-executes per round
    e = edges.select(
        F.col(src).alias("node"),
        F.col(dst).alias("__nxt"),
        F.col(cost).alias("__c"),
    ).localCheckpoint(eager=False)
    sig = dist.agg(
        F.count("*").alias("n"), F.sum("dist").alias("s")
    ).first()
    for _ in range(rounds):
        relaxed = (
            dist.join(e, "node")
            .select(
                F.col("__nxt").alias("node"),
                (F.col("dist") + F.col("__c")).alias("dist"),
            )
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        new_sig = new_dist.agg(
            F.count("*").alias("n"), F.sum("dist").alias("s")
        ).first()
        dist = new_dist
        if (new_sig.n, new_sig.s) == (sig.n, sig.s):
            break
        sig = new_sig
    return dist
