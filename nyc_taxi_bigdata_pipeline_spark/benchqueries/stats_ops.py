"""Closed-form grouped statistics: OLS linear fit and Pearson
correlation from exact decimal moments — the aggregate-only regression
form a 100-TB fit actually uses (ONE partial-aggregable pass collects
(n, Σx, Σy, Σxy, Σx², Σy²) per group; no iterative solver, no second
scan). The moment sums are exact DECIMAL (the functions/compat.py
discipline), surfaced as DOUBLE only inside a textually-shared final
expression.

One extra hazard beyond the compat docstring: `a*b - c*d` double
expressions can FMA-CONTRACT in DuckDB's native build (fused multiply-
add keeps the intermediate product unrounded) while the JVM never
fuses — measured as a last-ulp pearson_r divergence at sf0.001. The
final slope/intercept/r therefore snap to a 1e-9 fixed-point grid
(FLOOR(x*1e9 + 0.5)/1e9, shared text) before leaving the query; the
ulp-scale FMA difference is ~1e-17, eight orders below the grid.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import compat as C
from ..sources.tables import load_table
from . import dialect as D
from .registry import register

# exact decimal moments for y = extendedprice (money) on x = quantity
_MOMS = f"""
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({C.money('l_quantity')}) AS DOUBLE) AS sx,
         CAST(SUM({C.money('l_extendedprice')}) AS DOUBLE) AS sy,
         CAST(SUM({C.money('l_quantity')} * {C.money('l_extendedprice')}) AS DOUBLE) AS sxy,
         CAST(SUM({C.money('l_quantity')} * {C.money('l_quantity')}) AS DOUBLE) AS sxx,
         CAST(SUM({C.money('l_extendedprice')} * {C.money('l_extendedprice')}) AS DOUBLE) AS syy
  FROM {{table}} GROUP BY l_returnflag"""

def _snap9(expr: str, alias: str) -> str:
    """Fixed-point snap: kills FMA-contraction last-ulp divergence.
    Divisor is CAST AS DOUBLE — a bare N.0 literal is DECIMAL in Spark
    SQL and BIGINT/DECIMAL division truncates scale (working notes).
    For O(1)-magnitude statistics only: Spark's FLOOR(double) returns
    BIGINT and CLAMPS at 2^63 while DuckDB's floor stays double —
    unbounded statistics must come straight off exact DECIMAL integers
    instead (see the ANOVA t CTE and the re-snap-tie note below)."""
    return (
        f"CAST(FLOOR(({expr}) * 1000000000.0 + 0.5) AS BIGINT)"
        f" / CAST(1000000000 AS DOUBLE) AS {alias}"
    )


# Re-snapping a statistic REBUILT from already-snapped integers is a
# trap: (a_nano − b_nano)/1e9·1e9 lands on exactly-representable x.5
# doubles structurally often (ulp 0.25 at 2e15), and the engines broke
# the tie differently (hit at sf0.001). Derive such outputs from the
# exact DECIMAL integers directly — identical integers through
# identical single IEEE ops need no snap at all.


_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"

_LINFIT_SQL = f"""
WITH m AS ({_MOMS})
SELECT l_returnflag, n,
       {_snap9(_SLOPE, 'slope')},
       {_snap9(f'(sy - ({_SLOPE}) * sx) / n', 'intercept')}
FROM m ORDER BY l_returnflag"""


@register(
    "grouped_linear_fit",
    _LINFIT_SQL.format(table="lineitem"),
    doc="analytics ext: per-group closed-form OLS (extendedprice ~ "
        "quantity by returnflag) from exact decimal moments — one "
        "partial-aggregable scan collects (n, Σx, Σy, Σxy, Σx²); slope/"
        "intercept are a textually-shared double expression over exact "
        "sums, so the oracle hash-matches despite the float outputs",
)
def grouped_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "bq_linfit_lineitem"
    )
    return spark.sql(_LINFIT_SQL.format(table="bq_linfit_lineitem"))


_CORR_SQL = f"""
WITH m AS ({_MOMS})
SELECT l_returnflag, n,
       {_snap9('(n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))', 'pearson_r')}
FROM m ORDER BY l_returnflag"""


@register(
    "grouped_correlation",
    _CORR_SQL.format(table="lineitem"),
    doc="analytics ext: per-group Pearson correlation (quantity vs "
        "extendedprice by returnflag) from the same exact-decimal "
        "moment pass as grouped_linear_fit — corr() built-ins differ "
        "across engines in accumulation order, the moment form doesn't",
)
def grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "bq_corr_lineitem"
    )
    return spark.sql(_CORR_SQL.format(table="bq_corr_lineitem"))


# Robust per-group outlier profile: median + MAD + modified-z-score
# counts (Iglewicz–Hoaglin: |0.6745·(x−med)/MAD| > 3.5) — the outlier
# rule a mean/stddev z-score can't provide when the outliers themselves
# inflate the stddev (anomaly_zscore's known blind spot). Medians use
# the same rank-interpolation idiom as grouped_percentiles; the
# interpolation fraction is structurally 0.0 or 0.5 (exact in binary),
# so the multiply-add can't FMA-diverge. Constants go through CAST(..AS
# DOUBLE) — bare decimal literals are DECIMAL in Spark SQL.
_MAD_SQL = """
WITH v AS (
  SELECT event_type, value AS x FROM {table} WHERE value IS NOT NULL
),
o AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
g AS (SELECT DISTINCT event_type, n FROM o),
med AS (
  SELECT g.event_type, g.n,
         CAST(lov.x + (hiv.x - lov.x)
              * ((1.0 + (g.n - 1) * 0.5) - FLOOR(1.0 + (g.n - 1) * 0.5))
              AS DOUBLE) AS med
  FROM g
  JOIN o lov ON lov.event_type = g.event_type
            AND lov.rn = CAST(FLOOR(1.0 + (g.n - 1) * 0.5) AS BIGINT)
  JOIN o hiv ON hiv.event_type = g.event_type
            AND hiv.rn = CAST(CEILING(1.0 + (g.n - 1) * 0.5) AS BIGINT)
),
d AS (
  SELECT v.event_type, v.x, m.med, ABS(v.x - m.med) AS dev
  FROM v JOIN med m ON m.event_type = v.event_type
),
od AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT g.event_type,
         CAST(lov.dev + (hiv.dev - lov.dev)
              * ((1.0 + (g.n - 1) * 0.5) - FLOOR(1.0 + (g.n - 1) * 0.5))
              AS DOUBLE) AS mad
  FROM (SELECT DISTINCT event_type, n FROM od) g
  JOIN od lov ON lov.event_type = g.event_type
             AND lov.rn = CAST(FLOOR(1.0 + (g.n - 1) * 0.5) AS BIGINT)
  JOIN od hiv ON hiv.event_type = g.event_type
             AND hiv.rn = CAST(CEILING(1.0 + (g.n - 1) * 0.5) AS BIGINT)
)
SELECT d.event_type, MAX(m.n) AS n,
       MAX(d.med) AS median_value, MAX(a.mad) AS mad,
       CAST(SUM(CASE WHEN CAST(0.6745 AS DOUBLE) * d.dev
                          > CAST(3.5 AS DOUBLE) * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d
JOIN mad a ON a.event_type = d.event_type
JOIN med m ON m.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type"""


@register(
    "robust_zscore_mad",
    _MAD_SQL.format(table="events"),
    doc="analytics ext: per-group robust outlier profile — exact "
        "interpolated median, MAD, and modified-z-score (Iglewicz–"
        "Hoaglin 0.6745·dev/MAD > 3.5) outlier counts per event type. "
        "Spark side computes BOTH medians with the SCALE shape (r7 "
        "verdict finding 1): grouped bucketed two-pass selection "
        "(operators/quantiles.py) — no rank window ever sorts a whole "
        "fixed-cardinality group in one task; the broadcast-sized "
        "(group, median/mad) frames join back and the outlier test "
        "mirrors the oracle's CASE arithmetic op-for-op (doubles match "
        "bitwise). The oracle keeps the one-shot rank-window SQL",
)
def robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_profile(load_table(spark, sf_dir, "events"))


def mad_profile(events: DataFrame) -> DataFrame:
    """The shipped robust_zscore_mad plan over any (event_type, value)
    frame. The r9 scale probe (scripts/bench_r9_quantiles.py: script
    deleted; numbers stand, RESULTS.md Round 9) drove this function, so
    its numbers measure the registry path, not a twin."""
    from ..operators.quantiles import grouped_quantile_select

    # ONE corpus-scale cut: `v` is read by every refinement pass of both
    # quantile calls plus the final groupBy (~8 reads), so the lazy
    # localCheckpoint pays once. `d` is deliberately NOT checkpointed
    # (r9 profile: its 100M-row checkpoint write alone cost 79 s): the
    # eager operator returns literal-backed frames, so each re-
    # evaluation of `d` is just a v-read + broadcast join + abs() —
    # cheaper than materializing the projection ever is.
    v = (
        events
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").alias("x"))
        # receipt: unstaged/staged 1.10× at 10×
        # (reports/receipts/nockpt_10x_stats_text.json)
        .localCheckpoint(eager=False)
    )
    med = grouped_quantile_select(v, ["event_type"], "x", [0.5]).select(
        "event_type", "n", F.col("qvalue").alias("med")
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "med",
        F.abs(F.col("x") - F.col("med")).alias("dev"),
    )
    mad = grouped_quantile_select(
        d.select("event_type", "dev"), ["event_type"], "dev", [0.5]
    ).select("event_type", F.col("qvalue").alias("mad"))
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.lit(0.6745) * F.col("dev") > F.lit(3.5) * F.col("mad"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# Pearson chi-square test of independence on the lang × source
# contingency table. Cell statistic rewritten to an exact-integer core:
# (o−e)²/e = (o·N − r·c)² / (N·r·c) — the subtraction happens on exact
# BIGINTs (no catastrophic cancellation), each cell's double value snaps
# to a 1e-9 grid, and the cross-cell SUM runs on the snapped integers
# (DECIMAL(38,0) — a BIGINT sum overflows once cell contributions reach
# ~1e10, the ANOVA probe's overflow class) so float accumulation order
# can't diverge between engines. Domain bound, documented: the o·N
# BIGINT product core is exact to N ≈ 3·10⁹ observations per table;
# beyond that, pre-scale o/r/c/N to doubles and accept the (o−e)
# cancellation, or shard the table and sum per-shard chi².
_CHI2_DOCS_SQL = """
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
FROM {table} GROUP BY lang, source"""


def _chi2_read_sql(ob: str, cont: bool = False) -> str:
    diff = "CAST(o.o * n.n - r.r * c.c AS DOUBLE)"
    den = "CAST(n.n AS DOUBLE) * CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)"
    lead = "," if cont else "WITH"
    return f"""
    {lead} r AS (SELECT lang, SUM(o) AS r FROM {ob} GROUP BY lang),
    c AS (SELECT source, SUM(o) AS c FROM {ob} GROUP BY source),
    n AS (SELECT SUM(r) AS n FROM r),
    cells AS (
      SELECT o.lang, o.source,
             CAST(({diff}) * ({diff}) / ({den})
                  * 1000000000.0 AS DECIMAL(38,0)) AS contrib_nano
      FROM {ob} o
      JOIN r ON r.lang = o.lang
      JOIN c ON c.source = o.source
      CROSS JOIN n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
                AS BIGINT) AS df,
           CAST(SUM(contrib_nano) AS DOUBLE)
             / CAST(1000000000 AS DOUBLE) AS chi2
    FROM cells"""


@register(
    "chi_square_independence",
    f"WITH ob AS ({_CHI2_DOCS_SQL.format(table='documents')})\n"
    + _chi2_read_sql("ob", cont=True),
    doc="analytics ext: Pearson chi-square independence test on the "
        "lang × source contingency table — the categorical-drift gate a "
        "dataset mixture monitor runs. One corpus-pass groupBy builds "
        "the table; margins and the statistic run on the tiny "
        "aggregated relation (Spark side lazily checkpoints it into a "
        "temp view — multi-reference read-back, the CTE-inlining "
        "class). Cell math is (oN−rc)²/(Nrc) on exact BIGINT cores, "
        "snapped to 1e-9 before the cross-cell sum",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_chi2_docs"
    )
    # receipt: unstaged/staged 1.28× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json)
    ob = spark.sql(_CHI2_DOCS_SQL.format(table="bq_chi2_docs")).localCheckpoint(
        eager=False
    )
    ob.createOrReplaceTempView("bq_chi2_table")
    return spark.sql(_chi2_read_sql("bq_chi2_table"))


# Welch two-sample t-test per event type: the A/B-experiment readout.
# Arms are a deterministic user split (user_id % 2 — content-stable, the
# sampling discipline this repo uses instead of rand()). ONE
# partial-aggregable pass collects both arms' exact decimal moments via
# conditional aggregation (no moments self-join, no CTE re-scan); the
# t statistic and Welch–Satterthwaite df are textually-shared double
# expressions over the exact cores, snapped to the 1e-9 grid (the
# pearson_r FMA-contraction class).
_V0 = "(sxx0 - sx0 * sx0 / n0) / NULLIF(n0 - 1, 0)"
_V1 = "(sxx1 - sx1 * sx1 / n1) / NULLIF(n1 - 1, 0)"
_SE2 = f"(({_V0}) / n0 + ({_V1}) / n1)"
_T = f"(sx0 / n0 - sx1 / n1) / SQRT({_SE2})"
_DF_W = (
    f"({_SE2}) * ({_SE2}) / NULLIF("
    f"(({_V0}) / n0) * (({_V0}) / n0) / NULLIF(n0 - 1, 0)"
    f" + (({_V1}) / n1) * (({_V1}) / n1) / NULLIF(n1 - 1, 0), 0)"
)

_WELCH_SQL = f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
         CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {C.money('value')} END)
              AS DOUBLE) AS sx0,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN {C.money('value')} END)
              AS DOUBLE) AS sx1,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                       THEN {C.money('value')} * {C.money('value')} END)
              AS DOUBLE) AS sxx0,
         CAST(SUM(CASE WHEN user_id % 2 = 1
                       THEN {C.money('value')} * {C.money('value')} END)
              AS DOUBLE) AS sxx1
  FROM {{table}}
  WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n0 AS n_a, n1 AS n_b,
       {_snap9('sx0 / n0', 'mean_a')},
       {_snap9('sx1 / n1', 'mean_b')},
       {_snap9(_T, 't_stat')},
       {_snap9(_DF_W, 'df_welch')}
FROM m ORDER BY event_type"""


@register(
    "ab_test_welch",
    _WELCH_SQL.format(table="events"),
    doc="analytics ext: Welch two-sample t-test per event type over a "
        "deterministic user split (user_id parity) — the unequal-"
        "variance A/B readout (t statistic + Welch–Satterthwaite df). "
        "Both arms' exact decimal moments come from ONE conditional-"
        "aggregation pass (map-side combinable; no self-join), so the "
        "scan count is identical at 100 TB; outputs snap to the 1e-9 "
        "grid (FMA-contraction class, see module docstring)",
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bq_welch_events"
    )
    return spark.sql(_WELCH_SQL.format(table="bq_welch_events"))


# Mann–Whitney U (Wilcoxon rank-sum) per event type: the RANK-based A/B
# readout beside ab_test_welch — the test to run when means mislead
# (heavy tails, ordinal metrics; events.value's 0.1% 5000-unit outliers
# are exactly that case). Scale shape: ranks never touch raw rows — the
# per-(group, value) counts relation is aggregated FIRST (map-side
# combinable), and the cumulative-rank window rides that relation
# (Window over Aggregate, the sanctioned 1-col-partition form). Valid
# whenever the value domain is discrete/gridded (telemetry, prices,
# counts — events.value is 2-decimal); for truly continuous values
# quantize to the measurement grid first, or the distinct-value
# relation degenerates to row scale.
#
# Exactness: doubled ranks keep tie-averages integral (r2 = 2·cum+t+1);
# rank sums and the tie-correction Σ(t³−t) accumulate as DECIMAL(38,0)
# (BIGINT products pass 2^63 once group sizes reach ~2e9 — the ANOVA
# overflow class); U, the z numerator and the tie-corrected variance
# are derived from those exact integers in textually-shared double
# arithmetic, snapped to the 1e-9 grid. No continuity correction (both
# engines would need the same branchy |num| logic; at telemetry n the
# 0.5 shift is ~1e-4 z units and the SHARED text keeps parity exact
# regardless).
_MWU_SQL = f"""
WITH v AS (
  SELECT event_type, value AS x,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM {{table}} WHERE value IS NOT NULL AND user_id IS NOT NULL
),
vc AS (
  SELECT event_type, x,
         CAST(SUM(a) AS BIGINT) AS ca,
         CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
  FROM v GROUP BY event_type, x
),
r AS (
  SELECT event_type, ca, cb, ca + cb AS t,
         COALESCE(SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  CAST(0 AS BIGINT)) AS cum
  FROM vc
),
s AS (
  SELECT event_type,
         CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(cb) AS BIGINT) AS nb,
         SUM(CAST(ca AS DECIMAL(38,0)) * (2 * cum + t + 1)) AS ra2,
         SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
  FROM r GROUP BY event_type
),
u AS (
  SELECT event_type, na, nb, na + nb AS n, tie3,
         CAST(2 AS DECIMAL(38,0)) * na * nb
           + CAST(na AS DECIMAL(38,0)) * (na + 1) - ra2 AS u2a
  FROM s
)
SELECT event_type, na AS n_a, nb AS n_b,
       CAST(u2a AS DOUBLE) / CAST(2 AS DOUBLE) AS u_a,
       {{z_snap}},
       FLOOR(ABS({{z_expr}}) * 1000000000.0 + 0.5) >= 1960000000
         AS significant_95
FROM u ORDER BY event_type"""

_MWU_Z = (
    "(CAST(u2a - CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)"
    " / CAST(2 AS DOUBLE))"
    " / SQRT((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(12 AS DOUBLE))"
    "        * (CAST(n + 1 AS DOUBLE)"
    "           - CAST(tie3 AS DOUBLE)"
    "             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))"
)


def _mwu_sql(table: str) -> str:
    return _MWU_SQL.format(
        table=table, z_snap=_snap9(_MWU_Z, "z_stat"), z_expr=_MWU_Z
    )


@register(
    "ab_test_mann_whitney",
    _mwu_sql("events"),
    doc="analytics ext: Mann–Whitney U (Wilcoxon rank-sum) per event "
        "type over the same deterministic user split as ab_test_welch — "
        "the rank-based A/B readout heavy tails demand. Ranks ride the "
        "aggregated per-(group, value) counts relation (never raw "
        "rows); doubled ranks keep tie-averages integral; rank sums and "
        "the tie correction accumulate as DECIMAL(38,0); z is "
        "tie-corrected, snapped, with an integer significance compare",
)
def ab_test_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bq_mwu_events"
    )
    return spark.sql(_mwu_sql("bq_mwu_events"))


# Two-sample Kolmogorov–Smirnov per event type: the DISTRIBUTION-level
# A/B readout (Welch compares means, Mann–Whitney stochastic ordering;
# KS catches any CDF difference — shape, variance, multimodality).
# Same scale shape as the rank tests: the per-(group, value) counts
# relation aggregates first, cumulative-count windows ride it (Window
# over Aggregate), and the statistic is EXACT by construction —
# D = max|F_a − F_b| = MAX(|cum_a·n_b − cum_b·n_a|) / (n_a·n_b), an
# integer max divided once (cross-multiplied CDFs need no floats at
# all; products accumulate as DECIMAL(38,0) past the ~2e9-per-group
# BIGINT bound). The 95% rejection bound is the asymptotic
# c(.05)=1.358 two-sample form, evaluated in textually-shared double
# arithmetic over the exact integers (no snap needed: every double op
# here is a single correctly-rounded expression over identical inputs).
_KS_SQL = """
WITH v AS (
  SELECT event_type, value AS x,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM {table} WHERE value IS NOT NULL AND user_id IS NOT NULL
),
vc AS (
  SELECT event_type, x,
         CAST(SUM(a) AS BIGINT) AS ca,
         CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
  FROM v GROUP BY event_type, x
),
r AS (
  SELECT event_type,
         SUM(ca) OVER (PARTITION BY event_type ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cuma,
         SUM(cb) OVER (PARTITION BY event_type ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM vc
),
s AS (
  SELECT event_type,
         CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb,
         MAX(ABS(CAST(cuma AS DECIMAL(38,0)) * nb
                 - CAST(cumb AS DECIMAL(38,0)) * na)) AS dint
  FROM r GROUP BY event_type
)
SELECT event_type, na AS n_a, nb AS n_b,
       CAST(dint AS DOUBLE)
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks_d,
       CAST(dint AS DOUBLE)
           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
         > CAST(1.358 AS DOUBLE)
           * SQRT((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
         AS reject_95
FROM s ORDER BY event_type"""


@register(
    "ks_test_two_sample",
    _KS_SQL.format(table="events"),
    doc="analytics ext: two-sample Kolmogorov–Smirnov per event type "
        "over the deterministic user split — the distribution-level A/B "
        "readout beside Welch (means) and Mann–Whitney (ordering). "
        "D = max|F_a − F_b| computed EXACTLY as an integer max of "
        "cross-multiplied cumulative counts over the aggregated "
        "per-(group, value) relation (Window over Aggregate, one final "
        "division); asymptotic c=1.358 rejection bound in shared double "
        "text",
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bq_ks_events"
    )
    return spark.sql(_KS_SQL.format(table="bq_ks_events"))


# Population Stability Index on a numeric feature: THE production
# drift monitor (PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) over fixed
# bins; > 0.2 = significant shift by the industry rule). Cohorts are a
# deterministic temporal split (even vs odd epoch-day — the date-key
# idiom that sidesteps the events ts-precision drift); bins are 10
# equal-width buckets over the GLOBAL value range (one 1-row scalar
# anchor). Exactness: bucket shares use add-one smoothing so empty
# bins can't divide by zero; each bucket's contribution snaps to
# integer nano-nats — ln() decomposes into four _fp_ln integer
# micro-nat terms, the share difference is one deterministic double
# expression over exact integers — and the 10-term sum runs on the
# snapped integers, so accumulation order can't diverge.
def _ln_micro(x: str) -> str:
    """ln(x) snapped to integer micro-nats (text_ops._fp_ln's idiom,
    redefined locally — importing text_ops here would reorder module
    registration and with it the registry's public iteration order)."""
    return f"CAST(FLOOR(LN(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


def _psi_counts_ctes(engine: str, table: str) -> str:
    """The corpus-touching prefix of the PSI chain: events → global-range
    anchor → equal-width buckets → per-(type, arm, bkt) counts. Everything
    downstream is arithmetic over the bounded ≤|event_type|·2·10-row count
    frame."""
    day = D.epoch_day("ts", engine)
    b = "10"
    return f"""WITH e AS (
      SELECT event_type, ({day}) % 2 AS arm, value AS x
      FROM {table} WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM e),
    bkts AS (
      -- explicit equal-width bucketing (this DuckDB build lacks
      -- width_bucket): every op is a single correctly-rounded double
      -- expression over identical inputs, so assignments match exactly
      SELECT event_type, arm,
             CASE WHEN mx = mn THEN 1
                  ELSE LEAST({b}, GREATEST(1,
                       CAST(FLOOR((x - mn)
                            / ((mx - mn) / CAST({b} AS DOUBLE))) AS INT)
                       + 1)) END AS bkt
      FROM e CROSS JOIN mm
    ),
    c AS (SELECT event_type, arm, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM bkts GROUP BY event_type, arm, bkt)"""


def _psi_sql(engine: str, table: str) -> str:
    b = "10"
    lnr = (
        f"{_ln_micro('cc + 1')} - {_ln_micro(f'nc + {b}')}"
        f" - {_ln_micro('cb + 1')} + {_ln_micro(f'nb + {b}')}"
    )
    pdiff = (
        f"(CAST(cc + 1 AS DOUBLE) / CAST(nc + {b} AS DOUBLE)"
        f" - CAST(cb + 1 AS DOUBLE) / CAST(nb + {b} AS DOUBLE))"
    )
    return f"""
    {_psi_counts_ctes(engine, table)},
    n AS (SELECT event_type, arm, CAST(SUM(cnt) AS BIGINT) AS n
          FROM c GROUP BY event_type, arm),
    grid AS (
      SELECT n0.event_type, g.bkt, n0.n AS nb, n1.n AS nc
      FROM (SELECT event_type, n FROM n WHERE arm = 0) n0
      JOIN (SELECT event_type, n FROM n WHERE arm = 1) n1
        ON n1.event_type = n0.event_type
      CROSS JOIN (SELECT {D.unnest_col(D.iseq('1', b, engine), engine)} AS bkt) g
    ),
    terms AS (
      SELECT grid.event_type, grid.nb, grid.nc,
             COALESCE(c0.cnt, 0) AS cb, COALESCE(c1.cnt, 0) AS cc
      FROM grid
      LEFT JOIN c c0 ON c0.event_type = grid.event_type
                    AND c0.bkt = grid.bkt AND c0.arm = 0
      LEFT JOIN c c1 ON c1.event_type = grid.event_type
                    AND c1.bkt = grid.bkt AND c1.arm = 1
    ),
    snapped AS (
      SELECT event_type, nb, nc,
             CAST(FLOOR({pdiff} * ({lnr}) * 1000.0 + 0.5) AS BIGINT)
               AS term_nano
      FROM terms
    )
    SELECT event_type,
           CAST(MAX(nb) AS BIGINT) AS n_base,
           CAST(MAX(nc) AS BIGINT) AS n_current,
           CAST(SUM(term_nano) AS DOUBLE) / CAST(1000000000 AS DOUBLE)
             AS psi,
           SUM(term_nano) > 200000000 AS drifted_02
    FROM snapped GROUP BY event_type ORDER BY event_type"""


@register(
    "drift_psi_value",
    _psi_sql(D.DUCK, "events"),
    doc="analytics ext: Population Stability Index of the value "
        "distribution per event type between even and odd epoch-days — "
        "the numeric-feature drift gate (PSI > 0.2 rule) every ML "
        "platform runs between a baseline and a current window. Ten "
        "global equal-width bins (1-row range anchor), add-one-smoothed "
        "shares, per-bin contributions snapped to integer nano-nats "
        "(ln decomposed into _fp_ln micro-nat terms) so the cross-bin "
        "sum is exact-integer; drift flag is an integer compare",
)
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bq_psi_events"
    )
    # one-shot WITH deliberately (r12 staging REVERTED r13): the four
    # count-frame consumers all sit above the identical
    # (event_type, arm, bkt)-keyed aggregate exchange, which runtime
    # ReusedExchange dedups on its own — the r12 "0 runtime reuse"
    # classification came from the audit script's final+initial-plan
    # double count (fixed this round). Staged measured 0.59×/0.73× at
    # the 10×/100× salted tiers (bench_r13_scale_receipts.py).
    # That ratio came from a no-op patch: both arms ran the staged code,
    # so it is noise (OPTIMIZATION_r13 §5 annotation).
    return spark.sql(_psi_sql(D.SPARK, "bq_psi_events"))


# One-way ANOVA F-test across event types — the k-arm generalization of
# ab_test_welch (does ANY arm's mean differ?). Between/within sums of
# squares come from the same exact decimal moment pass; the CROSS-GROUP
# accumulations (Σsx, Σsx²/n, Σsxx) snap each group's term to integer
# nanos FIRST and sum exact integers (the chi-square discipline) —
# summing raw doubles across groups would be accumulation-order-
# dependent between engines. The term sums are DECIMAL(38,0), not
# BIGINT: sx²/n·1e9 passes 2^63 near ~10M rows/group (the r7 scale
# probe hit the overflow), while 38 digits hold to ~1e38.
_ANOVA_MOMS = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({C.money('value')}) AS DOUBLE) AS sx,
       CAST(SUM({C.money('value')} * {C.money('value')}) AS DOUBLE) AS sxx
FROM {{table}}
WHERE value IS NOT NULL
GROUP BY event_type"""

_SSB = "(CAST(sgs_nano AS DOUBLE) / 1000000000.0" \
    " - (CAST(g_nano AS DOUBLE) / 1000000000.0)" \
    " * (CAST(g_nano AS DOUBLE) / 1000000000.0) / nn)"
# within-SS straight from the exact integer difference — no re-snap
_SSW = "(CAST(sxx_nano - sgs_nano AS DOUBLE) / 1000000000.0)"

_ANOVA_SQL = f"""
WITH m AS ({_ANOVA_MOMS}),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(sx * sx / n * 1000000000.0 AS DECIMAL(38,0)))
           AS sgs_nano,
         SUM(CAST(sxx * 1000000000.0 AS DECIMAL(38,0))) AS sxx_nano,
         SUM(CAST(sx * 1000000000.0 AS DECIMAL(38,0))) AS g_nano
  FROM m
)
SELECT nn AS n_total, k AS n_groups,
       {_SSB} AS ss_between,
       {_SSW} AS ss_within,
       ({_SSB} / (k - 1)) / ({_SSW} / (nn - k)) AS f_stat
FROM t"""


@register(
    "anova_oneway",
    _ANOVA_SQL.format(table="events"),
    doc="analytics ext: one-way ANOVA F-test of value across event "
        "types — the k-arm mean-difference gate (ab_test_welch's "
        "generalization). One exact-decimal moment pass per group; "
        "cross-group sums run on per-group integer-nano terms (the "
        "chi-square accumulation discipline), so engine accumulation "
        "order can't diverge; F and the sums of squares snap to 1e-9",
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bq_anova_events"
    )
    return spark.sql(_ANOVA_SQL.format(table="bq_anova_events"))
