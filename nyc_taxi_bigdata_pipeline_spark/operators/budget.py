"""Token-budget prefix selection (weighted quantile threshold).

THE curation primitive at 100 TB: "keep the best docs until the token
budget is spent". Formally — order docs by (score DESC, id ASC) and
keep the MAXIMAL PREFIX whose cumulative token weight stays ≤ budget
(the first overflowing doc and everything after it are dropped, even
if a later smaller doc would still fit: prefix semantics keep the
selection reproducible and monotone in the budget).

The naive shape is a global cumulative window over every doc — an
Exchange SinglePartition + one-task sort of the corpus (the exact
cliff the grouped-quantile operator exists to avoid). This operator
finds the SAME boundary with bounded work:

  1. Phase A refines over the integer score: one map-combinable pass
     bins the live region into ``n_bins`` integer buckets carrying
     (count, Σweight, content min/max); the driver walks buckets from
     the top score down, fully keeping buckets whose mass fits and
     recursing into the single bucket where the budget crosses.
     Content min/max (not arithmetic bucket edges) bound the next
     level, so a heavy-tail score can't stall convergence — the same
     fix operators/quantiles.py carries (the r9 equal-width collapse).
  2. An all-ties boundary bucket (min == max score) switches to
     Phase B: identical refinement over doc_id ASCENDING within the
     tied score (ids are unique, so this always converges).
  3. A boundary bucket at or under ``leaf_rows`` rows is collected,
     sorted driver-side, and finished exactly.

Driver state is O(n_bins) per level plus one ≤``leaf_rows`` leaf; each
level is ONE map-combinable aggregate over the (geometrically
shrinking, predicate-pushed) live subset. Levels needed: uniform
scores 1-2; adversarial ties / heavy tails 2-4 plus the Phase B
levels. All arithmetic is exact integers (scores and weights are
BIGINTs), so the boundary — and therefore the kept SET — is
bit-reproducible and a DuckDB cumulative-window oracle can replay it
declaratively at test SFs.

The returned boundary defines the kept set as the single codegen
predicate ``score > s_star OR (score = s_star AND id <= d_star)``
(or none/all at the budget edges) — downstream aggregation is one
more scan, no shuffle beyond its own groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


@dataclass(frozen=True)
class BudgetBoundary:
    budget: int
    total_docs: int
    total_weight: int
    kept_docs: int
    kept_weight: int
    # kept set: score > s_star OR (score == s_star AND id <= d_star);
    # s_star None → nothing kept; d_star None → only score > s_star kept
    s_star: int | None
    d_star: int | None

    def kept_predicate(self, score_col: str, id_col: str) -> Column:
        if self.s_star is None:
            return F.lit(False)
        above = F.col(score_col) > F.lit(self.s_star)
        if self.d_star is None:
            return above
        return above | (
            (F.col(score_col) == F.lit(self.s_star))
            & (F.col(id_col) <= F.lit(self.d_star))
        )


def _bin_stats(live: DataFrame, col: str, lo: int, hi: int, n_bins: int):
    """One map-combinable pass: integer-exact disjoint bucketing of
    ``col`` over [lo, hi] (width = ceil(range / n_bins) so every value
    lands in exactly one bucket), per-bucket count / Σweight / content
    min-max of ``col``."""
    span = hi - lo + 1
    width = -((-span) // n_bins)  # ceil — last bucket may be short
    rows = (
        # integer DIV, never float division: ids/scores may exceed the
        # double-exact range and both operands are non-negative here
        live.groupBy(
            F.expr(f"(({col} - {lo}) DIV {width})").alias("__b")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum("__w").cast("long").alias("wsum"),
            F.min(col).alias("mn"),
            F.max(col).alias("mx"),
        )
        .collect()
    )
    return sorted(rows, key=lambda r: r["__b"])


def token_budget_prefix(
    df: DataFrame,
    *,
    score_col: str,
    id_col: str,
    weight_col: str,
    budget: int | None = None,
    budget_fraction: tuple[int, int] | None = None,
    n_bins: int = 64,
    leaf_rows: int = 100_000,
    max_levels: int = 64,
) -> BudgetBoundary:
    """Find the (score, id) prefix boundary for ``budget`` total weight
    (or ``budget_fraction`` = (num, den) of the total — exact integer
    floor). Scores and weights must be non-negative integers."""
    if (budget is None) == (budget_fraction is None):
        # mirror the grouped variant: passing both would silently pick
        # one and return a wrong-but-plausible boundary
        raise ValueError("need exactly one of budget / budget_fraction")
    base = df.select(
        F.col(score_col).cast("long").alias("__s"),
        F.col(id_col).cast("long").alias("__i"),
        F.col(weight_col).cast("long").alias("__w"),
    ).where(
        F.col(score_col).isNotNull()
        & F.col(weight_col).isNotNull()
        # NULL ids would silently drop out of the `id <= d_star` boundary
        # predicate (diverging from prefix semantics) and can TypeError
        # int(None) in the refinement — exclude them up front; ids share
        # the non-negative-integer contract of scores/weights.
        & F.col(id_col).isNotNull()
    )

    tot = base.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("w"),
        F.min("__s").alias("mn"),
        F.max("__s").alias("mx"),
    ).collect()[0]
    total_docs, total_weight = int(tot["n"]), int(tot["w"])
    if budget is None:
        num, den = budget_fraction
        budget = (total_weight * num) // den
    if total_docs == 0:
        return BudgetBoundary(budget, 0, 0, 0, 0, None, None)

    def finish(s_star: int | None, d_star: int | None) -> BudgetBoundary:
        if s_star is None:
            return BudgetBoundary(
                budget, total_docs, total_weight, 0, 0, None, None
            )
        bb = BudgetBoundary(
            budget, total_docs, total_weight, 0, 0, s_star, d_star
        )
        kept = (
            base.where(bb.kept_predicate("__s", "__i"))
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("w"),
            )
            .collect()[0]
        )
        return BudgetBoundary(
            budget,
            total_docs,
            total_weight,
            int(kept["n"]),
            int(kept["w"]),
            s_star,
            d_star,
        )

    def max_id_at(score: int) -> int:
        r = base.where(F.col("__s") == score).agg(F.max("__i")).collect()[0]
        return int(r[0])

    if total_weight <= budget:  # whole corpus fits
        return finish(int(tot["mn"]), max_id_at(int(tot["mn"])))

    # ---- Phase A: refine over score (descending walk) ----
    lo, hi = int(tot["mn"]), int(tot["mx"])
    live = base
    rem = budget
    for _ in range(max_levels):
        if lo == hi:
            return _phase_b(base, finish, lo, rem, n_bins, leaf_rows,
                            max_levels)
        bins = _bin_stats(live, "__s", lo, hi, n_bins)
        cum = 0
        boundary = None
        for r in reversed(bins):  # top score down
            if cum + int(r["wsum"]) <= rem:
                cum += int(r["wsum"])
            else:
                boundary = r
                break
        if boundary is None:  # cannot happen: total_weight > budget
            raise AssertionError("budget walk lost the boundary")
        rem -= cum
        lo, hi = int(boundary["mn"]), int(boundary["mx"])
        live = base.where((F.col("__s") >= lo) & (F.col("__s") <= hi))
        if lo == hi:
            return _phase_b(base, finish, lo, rem, n_bins, leaf_rows,
                            max_levels)
        if int(boundary["cnt"]) <= leaf_rows:
            rows = sorted(
                live.collect(), key=lambda x: (-x["__s"], x["__i"])
            )
            return _finish_leaf(rows, rem, finish)
    raise AssertionError("score refinement did not converge")


def _finish_leaf(rows, rem: int, finish) -> BudgetBoundary:
    """Exact sequential walk of a bounded leaf, already in prefix order.
    The boundary is the last row that still fits; if none fits the
    prefix ended just above this leaf — (s of first row, d_star=None)
    keeps only strictly-higher scores."""
    cum = 0
    last = None
    for x in rows:
        if cum + int(x["__w"]) <= rem:
            cum += int(x["__w"])
            last = x
        else:
            break
    if last is None:
        return finish(int(rows[0]["__s"]), None)
    return finish(int(last["__s"]), int(last["__i"]))


def _phase_b(base, finish, s_star: int, rem: int, n_bins: int,
             leaf_rows: int, max_levels: int) -> BudgetBoundary:
    """Refine over doc_id ASC within the tied boundary score."""
    live = base.where(F.col("__s") == s_star)
    b = live.agg(
        F.min("__i").alias("mn"),
        F.max("__i").alias("mx"),
        F.count("*").alias("n"),
        F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("w"),
    ).collect()[0]
    if int(b["w"]) <= rem:  # whole tie set fits
        return finish(s_star, int(b["mx"]))
    # the leaf decision reuses counts already in hand (entry agg, then
    # each boundary bucket's cnt) — no per-level count() job
    ilo, ihi, cnt = int(b["mn"]), int(b["mx"]), int(b["n"])
    for _ in range(max_levels):
        if cnt <= leaf_rows:
            rows = sorted(
                live.where(
                    (F.col("__i") >= ilo) & (F.col("__i") <= ihi)
                ).collect(),
                key=lambda x: x["__i"],
            )
            cum = 0
            last = None
            for x in rows:
                if cum + int(x["__w"]) <= rem:
                    cum += int(x["__w"])
                    last = x
                else:
                    break
            if last is not None:
                return finish(s_star, int(last["__i"]))
            # nothing in this leaf fits: the prefix ended at the last id
            # of the earlier fully-fitting buckets (all of them fit —
            # that is what brought rem down to here)
            prev = live.where(F.col("__i") < ilo).agg(
                F.max("__i")
            ).collect()[0][0]
            return (
                finish(s_star, int(prev))
                if prev is not None
                else finish(s_star, None)
            )
        bins = _bin_stats(
            live.where((F.col("__i") >= ilo) & (F.col("__i") <= ihi)),
            "__i", ilo, ihi, n_bins,
        )
        cum = 0
        boundary = None
        for r in bins:  # ascending ids
            if cum + int(r["wsum"]) <= rem:
                cum += int(r["wsum"])
            else:
                boundary = r
                break
        if boundary is None:
            raise AssertionError("tie walk lost the boundary")
        rem -= cum
        ilo, ihi = int(boundary["mn"]), int(boundary["mx"])
        cnt = int(boundary["cnt"])
        if ilo == ihi:  # single doc overflows on its own
            # ids are unique: the prefix ends just before this doc —
            # but ids below ilo in earlier buckets were already counted
            # into cum; the boundary doc itself does not fit
            prev = live.where(F.col("__i") < ilo).agg(
                F.max("__i")
            ).collect()[0][0]
            return finish(s_star, int(prev)) if prev is not None else finish(
                s_star, None
            )
    raise AssertionError("id refinement did not converge")


# ------------------------------------------- grouped (per-key) budgets


def grouped_token_budget_prefix(
    df: DataFrame,
    *,
    group_col: str,
    score_col: str,
    id_col: str,
    weight_col: str,
    budget_fraction: tuple[int, int] | None = None,
    budgets: dict | None = None,
    n_bins: int = 64,
    leaf_rows: int = 50_000,
    max_levels: int = 64,
    max_groups: int = 10_000,
) -> DataFrame:
    """Per-GROUP token-budget prefix boundaries — "cap every domain at
    its token budget, best docs first". Same prefix semantics as
    :func:`token_budget_prefix` applied independently inside each group
    (budget = ``budget_fraction`` of the group's own total, or an
    explicit per-group ``budgets`` dict), but ALL groups refine in
    LOCKSTEP: each level is one map-combinable pass where every live
    group contributes its own (range, width) cell from a broadcast
    table, so the pass count is bounded by the deepest group, not the
    group count. Groups absent from an explicit ``budgets`` dict get
    budget 0 (keep nothing) — pass every group you want kept. Driver state is O(groups × bins) per level (the
    quantiles cell discipline; ``max_groups`` enforces the
    driver-collectable precondition). Leaf finishing is DISTRIBUTED: a
    cumulative window partitioned by group over only the ≤``leaf_rows``
    leaf rows per group — never a corpus-scale window.

    Returns a literal-backed frame (one row per group)::

        group, budget, total_docs, total_weight, kept_docs,
        kept_weight, s_star, d_star

    Kept set per group: ``score > s_star OR (score = s_star AND
    id <= d_star)`` — NULL s_star keeps nothing, NULL d_star keeps
    only strictly-higher scores; a broadcast join of this frame + the
    predicate reproduces the selection in one codegen scan
    (NULL comparisons evaluate to false, so the predicate needs no
    special-casing).

    MEASURED regimes vs the naive per-group cumulative window
    (scripts/bench_r11_budget.grouped_tier — script deleted; numbers
    stand, RESULTS.md Round 11 — round-robin best-of-2,
    identical outputs asserted): the window wins while every group's
    rows fit one task's sort budget with enough groups to fill the
    cores (100M × 8 groups on 32 threads: 36.4 s vs 61.0 s here — the
    per-level full scans don't pay off); this operator wins as soon as
    rows-per-group outgrow that budget (100M × 2 groups: 42.6 s vs
    148.7 s, 3.5×), and at 100 TB any FIXED group cardinality puts
    terabytes into each window task — the window shape stops
    completing at all while this path stays one bounded-memory
    map-combinable pass per level. Pick the window for many small
    groups; pick this for few/huge groups or memory-bounded executors.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    if (budget_fraction is None) == (budgets is None):
        raise ValueError("need exactly one of budget_fraction / budgets")

    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("long").alias("__s"),
        F.col(id_col).cast("long").alias("__i"),
        F.col(weight_col).cast("long").alias("__w"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(weight_col).isNotNull()
        # same NULL-id exclusion as token_budget_prefix (see its filter)
        & F.col(id_col).isNotNull()
    )

    tot = base.groupBy("__g").agg(
        F.count("*").alias("n"),
        F.sum("__w").cast("long").alias("w"),
        F.min("__s").alias("mn"),
        F.max("__s").alias("mx"),
    ).collect()
    if len(tot) > max_groups:
        raise ValueError(
            f"{len(tot)} groups > max_groups={max_groups}: driver cell "
            "state would not be bounded — use a per-group window instead "
            "(group count scaling with data IS the well-partitioned case)"
        )

    @dataclass
    class _GS:
        phase: str  # score | tie_init | id | resolve_all | done
        rem: int
        lo: int
        hi: int
        total_docs: int
        total_weight: int
        budget: int
        s_star: int | None = None
        d_star: int | None = None

    st: dict = {}
    for r in tot:
        g = r["__g"]
        w = int(r["w"])
        if budget_fraction is not None:
            num, den = budget_fraction
            b = (w * num) // den
        else:
            b = int(budgets.get(g, 0))
        if w <= b:
            # whole group fits: d* = max id at the group's min score
            st[g] = _GS("resolve_all", 0, int(r["mn"]), int(r["mn"]),
                        int(r["n"]), w, b, s_star=int(r["mn"]))
        else:
            st[g] = _GS("score", b, int(r["mn"]), int(r["mx"]),
                        int(r["n"]), w, b)

    def _lit_cells(rows, fields):
        schema = StructType(
            [StructField("__g", base.schema["__g"].dataType)]
            + [StructField(f, LongType()) for f in fields]
        )
        return F.broadcast(base.sparkSession.createDataFrame(rows, schema))

    def _width(lo: int, hi: int) -> int:
        return -((-(hi - lo + 1)) // n_bins)

    for _level in range(max_levels):
        # -- transition: score range collapsed to one value → tie init
        tie_gs = [g for g, s in st.items() if s.phase == "score"
                  and s.lo == s.hi]
        for g in tie_gs:
            s = st[g]
            s.phase, s.s_star = "tie_init", s.lo
        tie_init = [g for g, s in st.items() if s.phase == "tie_init"]
        if tie_init:
            cells = _lit_cells([(g, st[g].s_star) for g in tie_init],
                               ["s_star"])
            stats = (
                base.join(cells, "__g")
                .where(F.col("__s") == F.col("s_star"))
                .groupBy("__g")
                .agg(
                    F.count("*").alias("cnt"),
                    F.sum("__w").cast("long").alias("wsum"),
                    F.min("__i").alias("mn"),
                    F.max("__i").alias("mx"),
                )
                .collect()
            )
            for r in stats:
                s = st[r["__g"]]
                if int(r["wsum"]) <= s.rem:
                    s.phase, s.d_star = "done", int(r["mx"])
                else:
                    s.phase, s.lo, s.hi = "id", int(r["mn"]), int(r["mx"])

        live_score = [g for g, s in st.items() if s.phase == "score"]
        live_id = [g for g, s in st.items() if s.phase == "id"]
        if not live_score and not live_id:
            break

        # -- one binning pass per refined column, all live groups at once
        for phase, col, live in (("score", "__s", live_score),
                                 ("id", "__i", live_id)):
            if not live:
                continue
            cells = _lit_cells(
                [(g, st[g].lo, st[g].hi, _width(st[g].lo, st[g].hi),
                  st[g].s_star if phase == "id" else -1)
                 for g in live],
                ["lo", "hi", "width", "sfix"],
            )
            tagged = base.join(cells, "__g").where(
                (F.col(col) >= F.col("lo")) & (F.col(col) <= F.col("hi"))
            )
            if phase == "id":
                tagged = tagged.where(F.col("__s") == F.col("sfix"))
            stats = (
                tagged.groupBy(
                    "__g",
                    F.expr(f"(({col} - lo) DIV width)").alias("__b"),
                )
                .agg(
                    F.count("*").alias("cnt"),
                    F.sum("__w").cast("long").alias("wsum"),
                    F.min(col).alias("mn"),
                    F.max(col).alias("mx"),
                )
                .collect()
            )
            per_g: dict = {}
            for r in stats:
                per_g.setdefault(r["__g"], []).append(r)
            for g in live:
                s = st[g]
                bins = sorted(per_g[g], key=lambda r: r["__b"])
                walk = reversed(bins) if phase == "score" else iter(bins)
                cum = 0
                boundary = None
                for r in walk:
                    if cum + int(r["wsum"]) <= s.rem:
                        cum += int(r["wsum"])
                    else:
                        boundary = r
                        break
                assert boundary is not None, (g, phase)
                s.rem -= cum
                s.lo, s.hi = int(boundary["mn"]), int(boundary["mx"])
                if int(boundary["cnt"]) <= leaf_rows:
                    s.phase = f"leaf_{phase}"

        # -- distributed leaf finish (both phases share the machinery)
        for phase in ("score", "id"):
            leaf = [g for g, s in st.items() if s.phase == f"leaf_{phase}"]
            if not leaf:
                continue
            col = "__s" if phase == "score" else "__i"
            cells = _lit_cells(
                [(g, st[g].lo, st[g].hi, st[g].rem,
                  st[g].s_star if phase == "id" else -1)
                 for g in leaf],
                ["lo", "hi", "rem", "sfix"],
            )
            rows_df = base.join(cells, "__g").where(
                (F.col(col) >= F.col("lo")) & (F.col(col) <= F.col("hi"))
            )
            if phase == "id":
                rows_df = rows_df.where(F.col("__s") == F.col("sfix"))
            order = ([F.col("__s").desc(), F.col("__i").asc()]
                     if phase == "score" else [F.col("__i").asc()])
            w_win = Window.partitionBy("__g").orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            fitted = (
                rows_df.withColumn("cum", F.sum("__w").over(w_win))
                .where(F.col("cum") <= F.col("rem"))
                .groupBy("__g")
                .agg(
                    F.max(F.struct(
                        F.col("cum"), (-F.col("__s")).alias("ns"),
                        F.col("__i"),
                    )).alias("last")
                )
                .collect()
            )
            hit = {r["__g"]: r["last"] for r in fitted}
            no_fit = [g for g in leaf if g not in hit]
            for g, last in hit.items():
                s = st[g]
                if phase == "score":
                    s.s_star, s.d_star = -int(last["ns"]), int(last["__i"])
                else:
                    s.d_star = int(last["__i"])
                s.phase = "done"
            if no_fit:
                if phase == "score":
                    # prefix ended above this leaf: keep only score > hi
                    for g in no_fit:
                        s = st[g]
                        s.s_star, s.d_star = s.hi, None
                        s.phase = "done"
                else:
                    # last fitting id sits in an earlier bucket (or none)
                    cells2 = _lit_cells(
                        [(g, st[g].s_star, st[g].lo) for g in no_fit],
                        ["sfix", "lo"],
                    )
                    prev = (
                        base.join(cells2, "__g")
                        .where((F.col("__s") == F.col("sfix"))
                               & (F.col("__i") < F.col("lo")))
                        .groupBy("__g").agg(F.max("__i").alias("p"))
                        .collect()
                    )
                    pmap = {r["__g"]: int(r["p"]) for r in prev}
                    for g in no_fit:
                        s = st[g]
                        s.d_star = pmap.get(g)
                        s.phase = "done"
    else:
        raise AssertionError("grouped budget refinement did not converge")

    # -- resolve the all-fits groups: d* = max id at the min score
    res = [g for g, s in st.items() if s.phase == "resolve_all"]
    if res:
        cells = _lit_cells([(g, st[g].s_star) for g in res], ["sfix"])
        mx = (
            base.join(cells, "__g")
            .where(F.col("__s") == F.col("sfix"))
            .groupBy("__g").agg(F.max("__i").alias("m"))
            .collect()
        )
        for r in mx:
            s = st[r["__g"]]
            s.d_star, s.phase = int(r["m"]), "done"

    assert all(s.phase == "done" for s in st.values())

    # -- one pass for the kept aggregates
    bschema = StructType(
        [
            StructField("__g", base.schema["__g"].dataType),
            StructField("s_star", LongType()),
            StructField("d_star", LongType()),
        ]
    )
    bounds = F.broadcast(
        base.sparkSession.createDataFrame(
            [(g, s.s_star, s.d_star) for g, s in st.items()], bschema
        )
    )
    kept = (
        base.join(bounds, "__g")
        .where(
            (F.col("__s") > F.col("s_star"))
            | ((F.col("__s") == F.col("s_star"))
               & (F.col("__i") <= F.col("d_star")))
        )
        .groupBy("__g")
        .agg(
            F.count("*").alias("kn"),
            F.sum("__w").cast("long").alias("kw"),
        )
        .collect()
    )
    kmap = {r["__g"]: (int(r["kn"]), int(r["kw"])) for r in kept}

    out_schema = StructType(
        [
            StructField("group", base.schema["__g"].dataType),
            StructField("budget", LongType()),
            StructField("total_docs", LongType()),
            StructField("total_weight", LongType()),
            StructField("kept_docs", LongType()),
            StructField("kept_weight", LongType()),
            StructField("s_star", LongType()),
            StructField("d_star", LongType()),
        ]
    )
    rows = [
        (g, s.budget, s.total_docs, s.total_weight,
         kmap.get(g, (0, 0))[0], kmap.get(g, (0, 0))[1],
         s.s_star, s.d_star)
        for g, s in st.items()
    ]
    return base.sparkSession.createDataFrame(rows, out_schema).orderBy(
        "group"
    )
