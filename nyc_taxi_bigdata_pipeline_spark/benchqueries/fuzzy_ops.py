"""Bounded edit-distance similarity join (training-data ext): all
customer-name pairs within Levenshtein distance 1, found by the
PassJoin-style segment-blocked self-join (`operators/editdist`) and
oracle-pinned against a DuckDB brute-force scan.

The oracle IS the quadratic form (length band + exact levenshtein over
the c_custkey < c_custkey cross) — hash equality proves the segment
blocking lossless end-to-end on a corpus that is deliberately
adversarial for it: every ``Customer#`` name shares a constant 9-char
prefix, so the prefix segment matches everything and candidates
degenerate toward the length band (see the saturation note in the
operator docstring; `scripts/bench_r6_editdist.py` measured the
selective-corpus regime where blocking pays: script deleted; numbers
stand, RESULTS.md Round 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.editdist import levenshtein_self_join
from ..sources.tables import load_table
from .registry import register

_K = 1

_LEV_ORACLE = f"""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= {_K}
  AND levenshtein(a.c_name, b.c_name) <= {_K}
ORDER BY id_a, id_b"""


@register(
    "fuzzy_join_levenshtein",
    _LEV_ORACLE,
    doc="training-data ext: bounded edit-distance self-join (PassJoin "
        "segment blocking + JVM levenshtein verify); oracle = brute-force "
        "all-pairs, so the hash gate proves the blocking lossless",
    bench=True,
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # single-file scans are ONE partition; the PassJoin explodes and the
    # 112M-candidate verify at sf0.1 inherit that layout without this
    # (measured 547 s -> ~40 s class; same fix as dedup_ssjoin_prefix)
    cust = cust.repartition(spark.sparkContext.defaultParallelism, "c_custkey")
    return levenshtein_self_join(cust, "c_custkey", "c_name", k=_K).orderBy(
        "id_a", "id_b"
    )


_LINK_K = 2

# Fixed-point score fusion, integer-exact end to end:
#   name_fp = floor(1e6 * (maxlen - dist) / maxlen)   (one double division)
#   bal_fp  = floor(1e6 / (1 + |bal_a - bal_b|) + 0.5) (decimal-exact diff,
#                                                       one double division)
#   fused   = (7*name_fp + 3*bal_fp) as exact BIGINTs, /10 then /1e6 only
#             at the very end — no a*b + c*d double chain, so the FMA
#             contraction hazard (stats_ops docstring) can't arise.
_LINK_SCORE = f"""
       CAST(FLOOR((7 * FLOOR(1000000.0 * (greatest(length(name_a), length(name_b)) - dist)
                             / greatest(length(name_a), length(name_b)))
                   + 3 * FLOOR(1000000.0 / (1.0 + CAST(bal_diff AS DOUBLE)) + 0.5))
                  / CAST(10 AS DOUBLE)) AS BIGINT) / CAST(1000000 AS DOUBLE)"""

# linkage is scoped to ONE market segment (the realistic shape: dedupe a
# list, not the cross of all lists) — and a measured guard: TPC-H names
# are the adversarial constant-prefix corpus for PassJoin, so a k=2
# full-corpus run at sf0.1 put ~1B candidate rows in ONE task (single
# hot (L, i, segment) bucket, load average 1.0 — the saturation cliff
# the editdist probe quantifies). Segment scoping cuts the n^2 floor
# 25x without changing the operator semantics under test.
_LINK_SEG = "BUILDING"

_LINKAGE_ORACLE = f"""
WITH s AS (SELECT * FROM customer WHERE c_mktsegment = '{_LINK_SEG}'),
p AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         a.c_name AS name_a, b.c_name AS name_b,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
         abs(CAST(a.c_acctbal AS DECIMAL(12,2)) - CAST(b.c_acctbal AS DECIMAL(12,2))) AS bal_diff
  FROM s a JOIN s b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_custkey < b.c_custkey
  WHERE abs(length(a.c_name) - length(b.c_name)) <= {_LINK_K}
    AND levenshtein(a.c_name, b.c_name) <= {_LINK_K}
)
SELECT id_a, id_b, dist, {_LINK_SCORE} AS match_score
FROM p ORDER BY id_a, id_b"""


@register(
    "fuzzy_record_linkage",
    _LINKAGE_ORACLE,
    doc="training-data ext: multi-field record linkage — candidate pairs "
        "from the PassJoin segment-blocked name join (k=2, the scale-"
        "honest primary blocker; attribute equality is a residual "
        "filter, never the blocker, because per-(nation,segment) blocks "
        "grow with the corpus while PassJoin candidates ride segment "
        "selectivity), then a fused match score over name edit "
        "similarity and account-balance closeness. Score fusion is "
        "integer-exact (two snapped fixed-point sims combined with "
        "integer weights 7:3 — no a*b + c*d double chain, see the FMA "
        "note in stats_ops) so the brute-force oracle hash-matches",
)
def fuzzy_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _LINK_SEG
    )
    cust = cust.repartition(spark.sparkContext.defaultParallelism, "c_custkey")
    pairs = levenshtein_self_join(cust, "c_custkey", "c_name", k=_LINK_K)
    attrs = cust.select(
        "c_custkey", "c_name", "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("__bal"),
    )
    joined = (
        pairs.join(
            attrs.select(
                F.col("c_custkey").alias("id_a"),
                F.col("c_name").alias("name_a"),
                F.col("c_nationkey").alias("__n_a"),
                F.col("__bal").alias("__bal_a"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("c_custkey").alias("id_b"),
                F.col("c_name").alias("name_b"),
                F.col("c_nationkey").alias("__n_b"),
                F.col("__bal").alias("__bal_b"),
            ),
            "id_b",
        )
        .filter(F.col("__n_a") == F.col("__n_b"))
        .withColumn("bal_diff", F.abs(F.col("__bal_a") - F.col("__bal_b")))
    )
    return joined.select(
        "id_a",
        "id_b",
        "dist",
        F.expr(_LINK_SCORE).alias("match_score"),
    ).orderBy("id_a", "id_b")
