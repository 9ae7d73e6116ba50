"""Edit-distance (Levenshtein) similarity self-join with PassJoin-style
segment blocking — all-pairs is never materialized.

Public algorithm (PassJoin, Li/Deng/Feng — VLDB'11): partition every
*indexed* string into ``k+1`` contiguous segments. If ``ed(s, t) <= k``
then at least one of s's segments survives all k edits untouched, and it
appears in t as an exact substring whose start position is shifted by at
most k. So candidates are generated by an EQUI-join on
``(index_length, segment_idx, segment_text)`` between the segment table
and a bounded probe-substring table — a shuffle-hash/sort-merge join,
never a nested loop — and each candidate is verified with the built-in
JVM ``levenshtein`` (whole-stage codegen, no Python).

Candidate volume is data-dependent: a segment that is CONSTANT across
the corpus (e.g. the ``Customer#`` prefix of TPC-H names, or zero-padded
id regions) matches everything and degenerates that segment's bucket
toward the full length-band cross product — the same saturation failure
mode as low-n shingles in `dedup.prefix_join_sets` (see working notes).
Selective corpora (hashes, natural words, mixed-format ids) keep
candidates near-linear; the scale probe `scripts/bench_r6_editdist.py`
measured both regimes (script deleted; numbers stand, RESULTS.md Round 6).

At 100 TB: one shuffle keyed by (L, i, segment) whose fan-in per key is
bounded by segment selectivity; verify is a projection on the joined
rows. Probe-side expansion is O((2k+1)^2 * (k+1)) rows per string —
constant for fixed k — and both explodes are generator-codegen'd.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _seg_bounds(m: int):
    """start/length of segment i for a string of length L, integer-exact:
    segment i covers [ (i*L) DIV m, ((i+1)*L) DIV m ) — contiguous, m
    pieces, lengths differing by at most 1."""

    def start(i: str, L: str) -> str:
        return f"CAST(({i} * {L}) DIV {m} AS INT)"

    def slen(i: str, L: str) -> str:
        return f"CAST((({i} + 1) * {L}) DIV {m} - ({i} * {L}) DIV {m} AS INT)"

    return start, slen


def _guarded_seq(lo: str, hi: str) -> str:
    """sequence(lo, hi) that yields an EMPTY array when lo > hi —
    Spark's sequence silently flips to descending otherwise (working
    notes pitfall), which would fabricate probe positions."""
    return f"CASE WHEN ({lo}) <= ({hi}) THEN sequence({lo}, {hi}) ELSE array() END"


def _lcp_len(a: str, b: str) -> int:
    n = min(len(a), len(b))
    for i in range(n):
        if a[i] != b[i]:
            return i
    return n


def _strip_common_affixes(df: DataFrame, str_col: str) -> DataFrame:
    """Strip the CORPUS-WIDE longest common prefix and suffix before
    blocking. Levenshtein distance is invariant under removing a prefix
    (or suffix) shared by both strings — the DP's first |P| diagonal
    steps are forced matches — so ``ed(s, t)`` on the stripped strings
    equals the original distance for every pair, and both blocking and
    verify run on the informative residue.

    This is what rescues PassJoin on template corpora: TPC-H names
    (``Customer#000000001``) share a 13-char constant prefix, so every
    k+1-scheme prefix segment is corpus-constant and its bucket
    degenerates to the full length band (112.5M candidates at sf0.1,
    measured). Stripped to the 5 selective digits, the same blocking is
    selective again AND each verify DP shrinks from 18x18 to 5x5 cells.

    Cost at scale: ONE map-combinable agg — the corpus LCP equals
    ``lcp(min(s), max(s))`` (any mismatch position in some string
    separates min from max at or before it), and the common suffix is
    the same trick on reversed strings, clamped to ``min_len - lcp`` so
    the two strips never overlap in the shortest string. Two broadcast-
    sized scalars come back to the driver; the strip itself is a
    projection."""
    row = df.agg(
        F.min(str_col).alias("mn"),
        F.max(str_col).alias("mx"),
        F.min(F.reverse(F.col(str_col))).alias("rmn"),
        F.max(F.reverse(F.col(str_col))).alias("rmx"),
        F.min(F.length(str_col)).alias("ml"),
    ).first()
    if row is None or row.ml is None:
        return df
    lcp = _lcp_len(row.mn, row.mx)
    lcs = min(_lcp_len(row.rmn, row.rmx), row.ml - lcp)
    if lcp == 0 and lcs == 0:
        return df
    return df.withColumn(
        str_col,
        F.expr(f"substring({str_col}, {lcp} + 1, length({str_col}) - {lcp + lcs})"),
    )


def levenshtein_candidates(
    df: DataFrame,
    id_col: str = "id",
    str_col: str = "s",
    k: int = 1,
    strip_affixes: bool = True,
) -> DataFrame:
    """Candidate pair frame ``(pid_a, pid_b, ps_a, ps_b)`` before the
    exact verify — a superset of the true <=k result (pigeonhole).
    Exposed separately so scale probes can measure candidate volume
    per corpus regime (`scripts/bench_r6_editdist.py`: script deleted;
    numbers stand, RESULTS.md Round 6).

    With ``strip_affixes`` (default), the corpus-wide common prefix and
    suffix are removed first (:func:`_strip_common_affixes`) — edit
    distance is invariant under the strip, so the returned ``ps_a`` /
    ``ps_b`` carry the STRIPPED strings and a downstream
    ``levenshtein(ps_a, ps_b)`` verify is exact for the original pair
    while running on the short residue.

    Blocking is classic PassJoin: k+1 segments, >=1 survives k edits,
    and candidates join on ONE segment match. A corpus-wide CONSTANT
    segment (zero-padded ids, shared prefixes) would turn its bucket
    into the full length band — measured 547 s at 15k TPC-H customer
    names (one hot bucket, one task, ~n²/2 candidates); the affix strip
    removes exactly that constant. The verify stays downstream of the
    pair-dedup ``distinct()``: raw candidate rows on TPC-H names at
    sf0.1 are only ~1.14× their distinct count, so verifying first
    measured slower (2.04 s vs 1.79 s, r13)."""
    if k < 1:
        raise ValueError("k must be >= 1 (use exact_dedup for k=0)")
    if strip_affixes:
        df = _strip_common_affixes(
            df.select(F.col(id_col).alias(id_col), F.col(str_col).alias(str_col)),
            str_col,
        )
    m = k + 1
    start, slen = _seg_bounds(m)

    # base fans into index, probe, and both _short_candidates scans — a
    # non-exchange shared frontier, so without staging the source scan
    # (+ the strip projection) re-runs once per consumer (measured 18
    # parquet scans / 48 exchanges in the registry query's plan). Lazy
    # in-operator checkpoint: one materialization, every consumer reads it.
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).cast("int").alias("__L"),
    ).localCheckpoint(eager=False)

    # ---- index side: k+1 segments of every string with L >= k+1
    index = (
        base.filter(F.col("__L") >= m)
        .select(
            "__id",
            "__s",
            "__L",
            F.explode(F.expr(f"sequence(0, {k})")).alias("__i"),
        )
        .select(
            F.col("__id").alias("id_a"),
            F.col("__s").alias("s_a"),
            F.col("__L").alias("__Lx"),
            "__i",
            F.expr(
                f"substring(__s, {start('__i', '__L')} + 1, {slen('__i', '__L')})"
            ).alias("__seg"),
        )
        .filter(F.length("__seg") >= 1)
    )

    # ---- probe side: for every assumed index length Lx in [Lt-k, Lt+k]
    # and segment i, all substrings of t with that segment's length whose
    # start is within +-k of the segment's home position.
    probe = (
        base.select(
            F.col("__id").alias("id_b"),
            F.col("__s").alias("s_b"),
            F.col("__L").alias("__Lt"),
        )
        .select(
            "id_b",
            "s_b",
            "__Lt",
            F.explode(
                F.expr(_guarded_seq(f"greatest(__Lt - {k}, {m})", f"__Lt + {k}"))
            ).alias("__Lx"),
        )
        .select(
            "id_b",
            "s_b",
            "__Lt",
            "__Lx",
            F.explode(F.expr(f"sequence(0, {k})")).alias("__i"),
        )
        .withColumn("__p0", F.expr(start("__i", "__Lx")))
        .withColumn("__sl", F.expr(slen("__i", "__Lx")))
        .filter(F.col("__sl") >= 1)
        .select(
            "id_b",
            "s_b",
            "__Lx",
            "__i",
            "__sl",
            F.explode(
                F.expr(
                    _guarded_seq(f"greatest(__p0 - {k}, 0)", f"least(__p0 + {k}, __Lt - __sl)")
                )
            ).alias("__p"),
        )
        .withColumn("__seg", F.expr("substring(s_b, __p + 1, __sl)"))
    )

    cand = (
        index.join(probe, ["__Lx", "__i", "__seg"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("pid_a"),
            F.greatest("id_a", "id_b").alias("pid_b"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("s_a")).otherwise(F.col("s_b")).alias("ps_a"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("s_b")).otherwise(F.col("s_a")).alias("ps_b"),
        )
    ).distinct()

    return cand.union(_short_candidates(base, k, m)).distinct()


def _short_candidates(base: DataFrame, k: int, m: int) -> DataFrame:
    """Pairs whose SHORTER side has L < ``m`` (too short for the main
    path's ``m`` nonempty pieces). Instead of an unbounded non-equi
    cross against the length band (a BroadcastNestedLoopJoin — the
    O(n*m) cliff class), block via deletion neighborhoods over DISTINCT
    string values: ed(u, v) <= k implies an optimal edit script deletes
    <= k chars from each side to reach a common string, so u and v
    share a member of their <=k-deletion variant sets — an EQUI-join
    key. The relevant band is L <= (m-1) + k (anything longer can't be
    within k of a short), its distinct-value domain is tiny for fixed
    k, and ids map back afterwards via equi-joins on the value."""
    band_max = m - 1 + k
    band_vals = (
        base.filter(F.col("__L") <= band_max).select("__s", "__L").distinct()
    )
    variants = band_vals.select("__s", "__L", F.col("__s").alias("__v"))
    for _ in range(k):
        deleted = (
            variants.filter(F.length("__v") >= 1)
            .select(
                "__s",
                "__L",
                F.explode(F.expr("sequence(1, length(__v))")).alias("__p"),
                "__v",
            )
            .select(
                "__s",
                "__L",
                F.expr(
                    "concat(substring(__v, 1, __p - 1),"
                    " substring(__v, __p + 1, length(__v) - __p))"
                ).alias("__v"),
            )
        )
        variants = variants.unionByName(deleted).distinct()

    vpairs = (
        variants.select(F.col("__s").alias("val_a"), F.col("__L").alias("__La"), "__v")
        .join(
            variants.select(F.col("__s").alias("val_b"), F.col("__L").alias("__Lb"), "__v"),
            "__v",
        )
        .filter(F.col("val_a") < F.col("val_b"))
        .select("val_a", "val_b", "__La", "__Lb")
        .distinct()
        # dist-0 pairs among shorts (identical values, distinct ids);
        # identical values with L >= m are found by the main path.
        .unionByName(
            band_vals.filter(F.col("__L") < m).select(
                F.col("__s").alias("val_a"),
                F.col("__s").alias("val_b"),
                F.col("__L").alias("__La"),
                F.col("__L").alias("__Lb"),
            )
        )
        # pairs with both sides >= m chars are the main path's job
        .filter(F.least("__La", "__Lb") < m)
        .filter(F.levenshtein("val_a", "val_b") <= k)
        .select("val_a", "val_b")
    )

    band_ids = base.filter(F.col("__L") <= band_max).select("__id", "__s")
    return (
        vpairs.join(
            band_ids.select(F.col("__s").alias("val_a"), F.col("__id").alias("__ia")),
            "val_a",
        )
        .join(
            band_ids.select(F.col("__s").alias("val_b"), F.col("__id").alias("__ib")),
            "val_b",
        )
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            F.least("__ia", "__ib").alias("pid_a"),
            F.greatest("__ia", "__ib").alias("pid_b"),
            F.when(F.col("__ia") < F.col("__ib"), F.col("val_a")).otherwise(F.col("val_b")).alias("ps_a"),
            F.when(F.col("__ia") < F.col("__ib"), F.col("val_b")).otherwise(F.col("val_a")).alias("ps_b"),
        )
    )


def levenshtein_self_join(
    df: DataFrame,
    id_col: str = "id",
    str_col: str = "s",
    k: int = 1,
    strip_affixes: bool = True,
) -> DataFrame:
    """All unordered pairs with ``levenshtein(s_a, s_b) <= k`` as
    ``(id_a, id_b, dist)``, ``id_a < id_b``.

    Lossless: segment blocking only ever *adds* candidates beyond the
    true result (pigeonhole guarantees no true pair is missed), and the
    exact verify removes the rest — pinned against a DuckDB brute-force
    oracle by `benchqueries/fuzzy_ops`. ``strip_affixes`` (default on)
    removes the corpus-wide common prefix/suffix first, which both
    preserves every distance exactly and de-saturates template corpora
    (r7 verdict task: 112.5M -> ~4M candidates on TPC-H names, verify
    DP 18x18 -> 5x5).
    """
    cand = levenshtein_candidates(df, id_col, str_col, k, strip_affixes=strip_affixes)
    return (
        cand.withColumn("dist", F.levenshtein("ps_a", "ps_b"))
        .filter(F.col("dist") <= k)
        .select(
            F.col("pid_a").alias("id_a"),
            F.col("pid_b").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )
