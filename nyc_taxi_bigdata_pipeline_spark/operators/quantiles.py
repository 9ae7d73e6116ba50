"""Grouped exact quantiles via iterative bucket refinement (A12 scale path).

The naive grouped quantile — ``ROW_NUMBER() OVER (PARTITION BY g ORDER BY
v)`` over raw rows — is a single-task sort per group whenever the group
key has FIXED cardinality (event_type has ~5-8 values at every SF): at
100x the data each task sorts 100x the rows (r7 probe: superlinear;
re-measured r9 at 128.7 s for 100M rows / 8 groups on a 32-core box,
with all cores idle but 8).

The r8 SINGLE-level bucketed selection fixed the uniform case but
collapsed under heavy tails (r9 profile): one 5000-unit outlier
stretches the per-group [mn, mx] so 99.9% of rows land in 1-2 of the 64
equal-width bins — the "selected" bucket IS the group, and pass 2 sorts
~10M rows in one task again (264 s at 100M, WORSE than the naive shape).

This version refines ITERATIVELY, with three properties that make the
worst case converge:

  1. per-(group, cell, bucket) stats carry the bucket's CONTENT min/max
     — the next level bins the actual value range, not the arithmetic
     bucket bounds, so one outlier can't stretch a child cell;
  2. an all-ties bucket (min == max) resolves immediately: every target
     rank inside it maps to that value, no sort ever touches it (heavy
     discrete distributions hit this fast);
  3. only rank-HOLDING buckets above ``leaf_rows`` refine; everything
     else either drops out (off-rank) or queues for the final bounded
     rank pass.

Driver-side state is O(|groups| * 2|ps|) cells per level (collected bin
stats are <= cells x n_bins rows) — the bounded iterative-algorithm
pattern this repo already uses for BPE merges and graph fixpoints,
never corpus-scale. Each level costs ONE map-combinable pass over the
input (broadcast cell table -> range tag -> width_bucket -> groupBy);
the final pass ranks only leaf cells, each <= leaf_rows rows per window
task, partitioned by (group, cell). Levels needed: uniform data 1;
heavy-tail/discrete data 2-3 (content-min/max shrinks the live range
geometrically and tie cells short-circuit).

Interpolation (r = 1.0 + (n-1)*p; q = lo_v + (hi_v - lo_v)*(r - lo)) is
computed on IEEE doubles with the exact op sequence of the shared
oracle SQL — +, -, * on doubles are correctly-rounded and identical in
the JVM, DuckDB, and CPython, so results stay bit-identical to a DuckDB
window-based replay (n < 2^53 assumed; see functions/compat.py).

Reference parity: exercises the percentile surface of
ex04/src/error_analysis.py:183-187 (percentile_approx) in exact,
grouped form.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def grouped_quantile_select(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ps: Sequence[float],
    n_bins: int = 64,
    leaf_rows: int = 250_000,
    max_levels: int = 8,
    max_groups: int = 100_000,
) -> DataFrame:
    """Exact interpolated quantiles per group, iterative bucket refinement.

    Returns one row per (group, p) with columns::

        *group_cols, p, n, qvalue

    where ``qvalue`` is the rank-interpolated quantile (the value a
    ``PERCENTILE_CONT``-style window computes) and ``n`` the group row
    count. NULL values must be filtered by the caller — and so must
    NaN: NaN compares as the largest double in Spark but sorts last in
    DuckDB's ORDER BY, and ``width_bucket`` returns NULL for it, so NaN
    rows would silently shift every rank. Callers over double-typed
    columns (events.value) own the isNotNull + NOT isnan precondition.

    The operator is EAGER: it runs its bounded refinement jobs when
    called (collected state is O(groups x bins) per level, never
    corpus-scale) and returns a literal-backed result frame, so callers
    can reference the result any number of times (broadcast joins, temp
    views) without re-triggering corpus scans — the multi-reference
    recompute class that cost robust_zscore_mad ~4 scans per run.

    The cell/target tables joined against the corpus are broadcast —
    correct whenever group cardinality is driver-collectable
    (fixed-cardinality keys, the motivating case). With millions of
    groups this operator's driver-side cell state is the wrong tool —
    use a per-group window instead (group count scaling with data IS
    the well-partitioned case). ``max_groups`` enforces that
    precondition at call time: pass-0 group count above it raises
    instead of silently building oversized driver cell state (r9
    verdict item 5).

    Rows whose GROUP KEY is NULL are dropped (matching the previous
    lazy implementation and SQL GROUP BY ... equi-join semantics): the
    refinement join is key-equality-based, so a null-keyed group could
    never resolve its ranks and would crash the driver-side
    interpolation instead (ADVICE r9). NULL handling of the VALUE
    column remains the caller's job, as documented above.
    """
    gcols = list(group_cols)
    if not ps:
        raise ValueError("ps must be non-empty")
    spark = df.sparkSession

    ev = df.select(*gcols, F.col(value_col).alias("v")).na.drop(subset=gcols)
    gfields = [ev.schema[c] for c in gcols]
    vtype = ev.schema["v"].dataType

    # ---- pass 0: per-group bounds + count (one map-combinable agg)
    mm_rows = (
        ev.groupBy(*gcols)
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    if len(mm_rows) > max_groups:
        raise ValueError(
            f"grouped_quantile_select saw {len(mm_rows)} groups "
            f"(> max_groups={max_groups}); driver-side cell state is the "
            "wrong tool at that cardinality — use a per-group rank window "
            "(row_number over partitionBy(group)) instead, which is the "
            "well-partitioned case when group count scales with the data"
        )

    # target ranks + interpolation grid, driver-side (O(groups x ps))
    kinfo: list[tuple] = []  # (*key, p, n, r, lo, hi)
    targets: dict[tuple, set[int]] = {}
    for row in mm_rows:
        key = tuple(row[c] for c in gcols)
        n = row["n"]
        tset = targets.setdefault(key, set())
        for p in ps:
            r = 1.0 + (n - 1) * float(p)
            lo, hi = math.floor(r), math.ceil(r)
            kinfo.append((*key, float(p), n, r, lo, hi))
            tset.update((lo, hi))

    resolved: list[tuple] = []  # (*key, rk, v)
    leaf_cells: list[tuple] = []  # (*key, cid, lo, hi, off)
    active: list[tuple] = []  # (*key, cid, lo, hi, off, ranks)
    cid = 0
    for row in mm_rows:
        key = tuple(row[c] for c in gcols)
        rks = sorted(targets[key])
        if row["mn"] == row["mx"]:
            resolved.extend((*key, rk, row["mn"]) for rk in rks)
        elif row["n"] <= leaf_rows:
            leaf_cells.append((*key, cid, row["mn"], row["mx"], 0))
            cid += 1
        else:
            active.append((*key, cid, row["mn"], row["mx"], 0, rks))
            cid += 1

    cell_schema = StructType(
        [
            *gfields,
            StructField("cid", LongType()),
            StructField("lo", vtype),
            StructField("hi", vtype),
        ]
    )

    def _rows_in(cells_df):
        """Corpus rows inside any listed cell, tagged with its cid.

        Equi-join on the group key + range residual: sibling cells carry
        CONTENT min/max, so their closed intervals are disjoint and each
        row matches at most one cell. Plans as a BroadcastHashJoin (the
        cell table is tiny) with a post-filter, never BNLJ."""
        c = F.broadcast(cells_df).alias("c")
        e = ev.alias("e")
        cond = [F.col(f"e.{g}") == F.col(f"c.{g}") for g in gcols] + [
            F.col("e.v") >= F.col("c.lo"),
            F.col("e.v") <= F.col("c.hi"),
        ]
        return e.join(c, cond).select(
            *[F.col(f"e.{g}") for g in gcols],
            F.col("e.v").alias("v"),
            F.col("c.cid").alias("cid"),
            F.col("c.lo").alias("lo"),
            F.col("c.hi").alias("hi"),
        )

    # ---- refinement levels: one bounded pass each. Bin count adapts to
    # the live cell count so the collected stats stay ~256k rows: few
    # groups (the fixed-cardinality motivating case) get a fine first
    # pass that usually resolves in ONE level even under heavy tails;
    # many groups fall back to the caller's n_bins.
    level = 0
    while active and level < max_levels:
        level += 1
        bins = max(n_bins, min(8192, 262_144 // max(len(active), 1)))
        cells_df = spark.createDataFrame(
            [c[: len(gcols) + 3] for c in active], cell_schema
        )
        binned = _rows_in(cells_df).withColumn(
            "bkt",
            F.least(
                F.lit(bins),
                F.width_bucket("v", F.col("lo"), F.col("hi"), F.lit(bins)),
            ),
        )
        stats = (
            binned.groupBy("cid", "bkt")
            .agg(F.count("*").alias("c"), F.min("v").alias("bmn"), F.max("v").alias("bmx"))
            .collect()
        )
        by_cell: dict[int, list] = {}
        for s in stats:
            by_cell.setdefault(s["cid"], []).append(s)

        new_active = []
        for cell in active:
            key = cell[: len(gcols)]
            ccid, off, rks = cell[len(gcols)], cell[len(gcols) + 3], cell[len(gcols) + 4]
            cum = off
            for b in sorted(by_cell.get(ccid, []), key=lambda s: s["bkt"]):
                inside = [rk for rk in rks if cum < rk <= cum + b["c"]]
                if inside:
                    if b["bmn"] == b["bmx"]:
                        resolved.extend((*key, rk, b["bmn"]) for rk in inside)
                    elif b["c"] <= leaf_rows:
                        leaf_cells.append((*key, cid, b["bmn"], b["bmx"], cum))
                        cid += 1
                    else:
                        new_active.append((*key, cid, b["bmn"], b["bmx"], cum, inside))
                        cid += 1
                cum += b["c"]
        active = new_active

    # max_levels exhausted (adversarial ties-free distributions): rank
    # the remainder anyway — correct, just a bigger sort per cell
    leaf_cells.extend(c[: len(gcols) + 4] for c in active)

    # ---- final bounded rank pass: only leaf cells, each its own window
    # task partitioned by (group, cid)
    hits: dict[tuple, object] = {(*r[: len(gcols)], r[len(gcols)]): r[-1] for r in resolved}
    if leaf_cells:
        leaf_schema = StructType([*cell_schema.fields, StructField("off", LongType())])
        lc = spark.createDataFrame(leaf_cells, leaf_schema)
        tr = spark.createDataFrame(
            [(*k, rk) for k, rks in targets.items() for rk in sorted(rks)],
            StructType([*gfields, StructField("rk", LongType())]),
        )
        ranked = _rows_in(lc.select(*gcols, "cid", "lo", "hi")).join(
            F.broadcast(lc.select("cid", "off")), "cid"
        )
        ranked = ranked.withColumn(
            "grn",
            F.col("off")
            + F.row_number().over(Window.partitionBy(*gcols, "cid").orderBy("v")),
        )
        r_, t_ = ranked.alias("r"), tr.alias("t")
        cond = [F.col(f"r.{g}") == F.col(f"t.{g}") for g in gcols] + [
            F.col("r.grn") == F.col("t.rk")
        ]
        for row in r_.join(F.broadcast(t_), cond).select(
            *[F.col(f"t.{g}") for g in gcols], F.col("t.rk"), F.col("r.v")
        ).collect():
            hits[tuple(row)[:-1]] = row["v"]

    # ---- interpolation on the driver: same IEEE double op sequence as
    # the shared oracle SQL (see module docstring)
    out = []
    for entry in kinfo:
        key = entry[: len(gcols)]
        p, n, r, lo, hi = entry[len(gcols):]
        lo_v, hi_v = float(hits[(*key, lo)]), float(hits[(*key, hi)])
        out.append((*key, p, n, lo_v + (hi_v - lo_v) * (r - lo)))
    return spark.createDataFrame(
        out,
        StructType(
            [
                *gfields,
                StructField("p", DoubleType()),
                StructField("n", LongType()),
                StructField("qvalue", DoubleType()),
            ]
        ),
    )
