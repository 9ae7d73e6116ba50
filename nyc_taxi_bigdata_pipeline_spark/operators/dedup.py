"""Scale-path deduplication operators (training-data pipeline).

The oracle-checked flavors live in ``benchqueries/dedup_ops.py`` (md5
portable hashing so DuckDB can verify); these are the production
variants built for 100 TB:

- exact dedup: xxhash64 fingerprint → dropDuplicates (one shuffle,
  map-side combine; the 128-bit-safe variant uses md5 to make collision
  probability negligible at trillions of docs)
- MinHash+LSH: signatures via JVM array expressions (codegen), band
  bucket join for candidate pairs — pair count is bucket-bounded, never
  O(n²) — then exact Jaccard verification on candidates only
- SimHash: 64-bit fingerprint + Hamming ≤ k candidate filter

All JVM expressions, no Python UDFs in the hot path.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def normalize_text(col: str = "text") -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct normalized text. At 100 TB this is one
    hash-partition shuffle on the 64-bit fingerprint; within-fingerprint
    ties resolved arbitrarily (first writer wins, matching J6)."""
    return (
        df.withColumn("__fp", F.xxhash64(normalize_text(text_col)))
        .dropDuplicates(["__fp"])
        .drop("__fp")
    )


def dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    fp = F.xxhash64(normalize_text(text_col))
    return df.select(fp.alias("fp")).agg(
        F.count("*").alias("total"),
        F.countDistinct("fp").alias("distinct"),
        (F.count("*") - F.countDistinct("fp")).alias("dups"),
    )


# ------------------------------------------------------------ MinHash + LSH

# Portable hash family (r12): lets the PRODUCTION pipeline below run in
# an oracle-replayable mode — DuckDB recomputes signatures, band
# buckets, candidates, and Jaccard verification bit-for-bit — without
# changing the plan shape (same explode → hash → MIN aggregate, same
# band join, same Arrow verify kernel). One md5 per shingle; the N
# family members derive from the 64-bit base via an (a·h + b) mod P
# universal family with P = 2³¹−1. An (a·h+b) family over a 64-bit h
# is not portable (the 122-bit product wraps in Spark and raises in
# DuckDB); folding h into [0, P) first keeps every product under 2⁶² —
# exact BIGINT arithmetic in both engines, no overflow semantics in
# play.
_PORTABLE_P = 2_147_483_647  # 2^31 − 1, prime


def _portable_h64(col: F.Column) -> F.Column:
    """md5-hex → int64 (the functions/compat.h64 idiom) as a Column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (aₖ, bₖ) literals for the portable member family;
    the oracle SQL generator embeds the same values. aₖ ≠ 0 for every
    k < P−1 (2654435761·(k+1) < 2³⁸ is never a multiple of prime P)."""
    return [
        (
            (2_654_435_761 * (k + 1)) % _PORTABLE_P,
            (40_503 * (k + 1) + 12_345) % _PORTABLE_P,
        )
        for k in range(num_hashes)
    ]


def _portable_member(h: F.Column, a: int, b: int) -> F.Column:
    h31 = F.pmod(h, F.lit(_PORTABLE_P))
    return F.pmod(F.lit(a).cast("long") * h31 + F.lit(b), F.lit(_PORTABLE_P))


def add_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc minhash signature ``(id_col, mh0..mhN-1)`` in the exploded
    hash-aggregate shape: explode shingles → xxhash64 the STRING once per
    shingle (codegen) → derive the N family members by re-hashing the
    64-bit value with the seed (hashing 8 bytes, not the string again) →
    N MIN aggregates in one map-side-combined hash aggregate.

    The previous formulation ran N interpreted ``transform()`` lambdas
    over the shingle array per row (higher-order functions never enter
    whole-stage codegen) — the same footgun class as the pre-round-2
    simhash64; measured 8× faster at 125k docs (the probe script is
    deleted; RESULTS.md Round 2 keeps its numbers). Duplicate shingles
    don't need dedup before MIN (min of a multiset == min of its
    support).

    Shingles never materialize as an array: the POSITION sequence is
    exploded (Generate supports whole-stage codegen) and the 5-char
    substring + hash happen inline per position row — the interpreted
    legacy shingle-array build was the dominant cost even after the
    hash passes moved to codegen. Duplicate shingles don't need dedup
    before MIN (min of a multiset == min of its support).

    At 100 TB: the explode feeds a map-side partial MIN, so the shuffle
    carries only N longs per doc — smaller than the band explode that
    follows it in lsh_candidate_pairs.

    ``hash_family``: ``"xxhash64"`` (default, JVM scale path) or
    ``"portable"`` (md5 base hash + (a·h+b) mod P members — identical
    plan shape, DuckDB-replayable; see the module comment above
    ``_PORTABLE_P``).

    ``shingles``: caller-precomputed ``(id_col, __h)`` hashed-shingle
    frame over the SAME docs/n/hash_family (the :func:`hashed_shingles`
    contract) — skips the explode+hash pass. Signatures are identical
    either way: MIN over each family member ignores duplicate shingles
    (min of a multiset == min of its support), so the distinct frame
    yields the same mh columns as the raw position rows."""
    n = 5
    if shingles is None:
        pos = df.select(
            F.col(id_col),
            F.col(text_col).alias("__t"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
            ).alias("__i"),
        )
        gram = F.col("__t").substr(F.col("__i"), F.lit(n))
        base_h = (
            _portable_h64(gram) if hash_family == "portable" else F.xxhash64(gram)
        )
        sh = pos.select(id_col, base_h.alias("__h"))
    else:
        sh = shingles.select(id_col, "__h")
    if hash_family == "portable":
        aggs = [
            F.min(_portable_member(F.col("__h"), a, b)).alias(f"mh{k}")
            for k, (a, b) in enumerate(portable_minhash_params(num_hashes))
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("__h"), F.lit(seed))).alias(f"mh{seed}")
            for seed in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*aggs)


def band_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, bh) LSH band rows from a signature frame — the
    join-ready (and PERSISTABLE) form of the index: write these once
    with the corpus and every later batch joins against them without
    re-shingling a byte of corpus text (:func:`minhash_band_index`)."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        # xxhash64 over the raw longs — no per-band string
        # materialization (the earlier concat_ws form built a ~40-char
        # string per (doc, band) just to hash it; at 5M docs × 8 bands
        # that is 40M transient strings per pass)
        parts = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        if hash_family == "portable":
            # concat_ws over decimal strings — the oracle's exact text;
            # per-(doc, band) string build is acceptable in the
            # verifiability mode (the default stays raw-long xxhash64)
            bh = _portable_h64(
                F.concat_ws("#", *[p.cast("string") for p in parts])
            )
        else:
            bh = F.xxhash64(*parts)
        band_cols.append(F.struct(F.lit(b).alias("band_id"), bh.alias("bh")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.bh")


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Corpus LSH index build: one signature pass over the corpus →
    band rows. Persist the result (parquet) once; incremental ingest
    then runs :func:`dedup_incremental` against it."""
    sigs = add_minhash(docs.select(id_col, text_col), text_col, num_hashes, id_col)
    return band_rows(sigs, id_col, num_hashes, bands)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int = 256,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Band-bucket join: docs sharing any band signature become a
    candidate pair. Shuffle key = (band_id, band_hash) — collision
    buckets are tiny for non-near-dup corpora, so the join output stays
    linear-ish.

    ``bucket_cap`` bounds the quadratic blowup a boilerplate-heavy
    corpus would otherwise hit (10k identical docs → C(10k,2) ≈ 50M
    pairs PER BAND): buckets larger than the cap emit representative-
    star pairs (every member linked to the bucket's min id) instead of
    all-pairs — O(bucket) rows, and connectivity within the bucket is
    preserved for downstream near-dup clustering (members verify
    against the representative; identical docs verify at jaccard 1.0).
    Small buckets keep exact all-pairs semantics. Pass ``None`` to
    disable the cap."""
    # banded fans into the bucket-size agg, the tagged join, and both
    # sides of the candidate self-join — the size agg and the join keys
    # differ, so exchange reuse can't dedup them and the whole signature
    # pass upstream (the corpus shingle explode + hash) recomputes once
    # per reference (r12 stage probe: the candidate stage alone cost
    # 2.55 s portable / 1.48 s xxhash64 at sf0.1 before this cut). Lazy
    # in-operator checkpoint — first caller action materializes it.
    banded = band_rows(sigs, id_col, num_hashes, bands, hash_family).localCheckpoint(
        eager=False
    )

    if bucket_cap is None:
        small, star = banded, None
    else:
        sizes = banded.groupBy("band_id", "bh").agg(
            F.count("*").alias("__n"), F.min(id_col).alias("__rep")
        )
        tagged = banded.join(sizes, ["band_id", "bh"])
        small = tagged.filter(F.col("__n") <= bucket_cap).select(id_col, "band_id", "bh")
        star = (
            tagged.filter((F.col("__n") > bucket_cap) & (F.col(id_col) != F.col("__rep")))
            .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )

    a, b_ = small.alias("a"), small.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def minhash_estimate_filter(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    min_estimate: float = 0.55,
) -> DataFrame:
    """Signature-based Jaccard ESTIMATE prefilter between LSH banding
    and exact verification — the standard production LSH pipeline's
    middle stage. Each candidate pair costs one row through two
    signature equi-joins and a 32-term equality sum (codegen), vs exact
    verify's ~|shingles|² join rows per pair: measured 12.8k pairs/s
    exact vs effectively free here, which is what makes the chain
    viable when a boilerplate-heavy corpus yields ~20 candidates/doc.

    E[matches/num_hashes] = true Jaccard; with 32 hashes σ ≈ 0.07 at
    j=0.8, so ``min_estimate=0.55`` (≈ threshold − 3.5σ) loses a true
    j≥0.8 pair with probability ~2e-4 while discarding the ~0.3-Jaccard
    band-collision bulk. Pairs that pass still go through the exact
    :func:`verify_sets` — estimates never appear in results.

    Shuffle shape: the pair table joins the signature table TWICE, so
    signature width is the shuffle bill (93M pairs × 2×32 longs ≈ 48 GB
    at the 1000× tier). Each hash is therefore truncated to its low
    BYTE and 8 bytes pack into one BIGINT — 4 columns instead of 32,
    8× less I/O. A byte match is implied by a full match, so the packed
    match count only ever EXCEEDS the true one: the prefilter stays
    conservative (the ~(32−m)/256 expected inflation is far inside the
    3.5σ margin, and exact verify decides every survivor anyway).
    """
    groups = num_hashes // 8

    def packed(prefix: str, out: str):
        cols = []
        for g in range(groups):
            acc = F.lit(0).cast("long")
            for j in range(8):
                byte = F.col(f"mh{g * 8 + j}").bitwiseAND(F.lit(255))
                acc = acc.bitwiseOR(F.shiftleft(byte, 8 * j))
            cols.append(acc.alias(f"{out}{g}"))
        return [F.col(id_col).alias(prefix), *cols]

    if groups * 8 == num_hashes:
        a = sigs.select(*packed("id_a", "__pa"))
        b = sigs.select(*packed("id_b", "__pb"))
        matches = sum(
            F.when(
                F.shiftright(F.col(f"__pa{g}"), 8 * j).bitwiseAND(F.lit(255))
                == F.shiftright(F.col(f"__pb{g}"), 8 * j).bitwiseAND(F.lit(255)),
                1,
            ).otherwise(0)
            for g in range(groups)
            for j in range(8)
        )
    else:  # width not a multiple of 8: unpacked fallback
        a = sigs.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(num_hashes)],
        )
        b = sigs.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(num_hashes)],
        )
        matches = sum(
            F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(matches >= int(min_estimate * num_hashes))
        .select("id_a", "id_b")
    )


def hashed_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Distinct hashed char-n-gram shingles, one row per (doc,
    shingle-hash) — the fully-codegen twin of the legacy shingle build
    (positions exploded, no interpreted array lambdas). ``hash_family``
    as in :func:`add_minhash`."""
    pos = docs.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
        ).alias("__i"),
    )
    gram = F.col("__t").substr(F.col("__i"), F.lit(n))
    h = _portable_h64(gram) if hash_family == "portable" else F.xxhash64(gram)
    return pos.select(id_col, h.alias("__h")).distinct()


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exact shingle-Jaccard on candidates only, computed RELATIONALLY:
    shingle sets stay exploded as (doc, hash) rows, |A∩B| is a pair ×
    shingle equi-join count, |A| a per-doc count — whole-stage codegen
    end to end, no interpreted array_intersect walking string arrays.
    Shingle identity is the 64-bit hash (collision odds negligible next
    to the minhash banding error). Pairs sharing zero shingles drop out
    of the inner join — correct for any threshold > 0.

    This is the independent REFERENCE for :func:`verify_sets`: no
    production path calls it, and it shares no code with the Arrow
    kernel, so tests compare the kernel's confirmed set (scores
    included) against it. The shingle frame is referenced under three
    different join keys (per-doc sizes, id_a side, (id_b, hash) side),
    so the explode+hash runs once per reference — fine at test sizes."""
    # pairs fans into ids (×2) + the inter join — lazy in-operator
    # checkpoint (honest)
    pairs = pairs.localCheckpoint(eager=False)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = hashed_shingles(
        docs.join(ids, id_col, "left_semi"), id_col, text_col,
        n=shingle_n, hash_family=hash_family,
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "__h")
    b = sh.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "__sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "__sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# Verify-stage array dictionary broadcast cap (bytes of int64 hash
# elements). Under the cap, each candidate doc's sorted shingle array is
# collected ONCE and broadcast, and the Arrow kernel reads pair IDS only
# — vs the join shape, which physically duplicates every array once per
# pair it appears in, through the pair-join shuffle AND the Python
# boundary (measured 2.3 GB for ~73.5k containment candidates at sf0.1
# whose distinct arrays total ~80 MB — a ~29× amplification at ~29
# pairs/doc). The collected dict lives in the Python driver; the JVM
# holds only the broadcast's serialized blocks, and its heap is
# host-sized (session.driver_heap_mb; perfbench runs 1–2 GB) — 256 MB
# fits the ~1 GB unified memory region of a 2 GB heap at Spark's
# default spark.memory.fraction. Past the cap the operator falls back
# to the join shape with identical results (the graph.py
# BROADCAST_NODES_MAX discipline). verify_sets reads the constant at
# call time, so tests pin the fallback by monkeypatching it to 0.
BROADCAST_ARRAYS_MAX_BYTES = 256 << 20


class _SetMetric(NamedTuple):
    """Everything a set-similarity join needs to know about its metric;
    read by both the candidate stage (:func:`prefix_join_sets`) and the
    verify (:func:`verify_sets`). ``size_ok`` and ``overlap`` take the
    threshold and the two sides' set-size columns; ``score`` takes
    |A∩B|, |A|, |B|."""

    col_a: str  # pair id columns (a = the prefix-filtered probe side)
    col_b: str
    score_col: str
    # symmetric: pairs id_a < id_b and both sides prefix-filtered;
    # directed: pairs src_id != dst_id and the dst side keeps its full
    # postings (any superset of the source can contain it)
    symmetric: bool
    size_ok: Callable[[float, Column, Column], Column]
    overlap: Callable[[float, Column, Column], Column]  # α: least |A∩B| to pass
    score: Callable[[int, int, int], float]


def _containment_overlap(t: float, sa: Column, sb: Column) -> Column:
    return F.ceil(F.lit(t) * sa.cast("double"))


_SET_METRICS = {
    # J(A,B) = |A∩B| / |A∪B| ≥ t needs min size ≥ t·max size and
    # |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉
    "jaccard": _SetMetric(
        "id_a", "id_b", "jaccard", True,
        size_ok=lambda t, sa, sb: (
            F.least(sa, sb).cast("double") >= F.lit(t) * F.greatest(sa, sb)
        ),
        overlap=lambda t, sa, sb: F.ceil(
            F.lit(t / (1.0 + t)) * (sa + sb).cast("double")
        ),
        score=lambda inter, na, nb: inter / (na + nb - inter),
    ),
    # C(src→dst) = |S∩D| / |S| ≥ t needs |S∩D| ≥ ⌈t·|S|⌉, so |D| ≥ that
    # too; no upper bound on |D|
    "containment": _SetMetric(
        "src_id", "dst_id", "containment", False,
        size_ok=lambda t, sa, sb: sb >= _containment_overlap(t, sa, sb),
        overlap=_containment_overlap,
        score=lambda inter, na, nb: inter / na,
    ),
}


def _arrays_map_or_none(arrays: DataFrame, cap_bytes: int):
    """Collect ``(id, sorted hash array)`` into a driver dict when the
    total element payload fits ``cap_bytes``; None → caller uses the
    join shape. One SUM(size) job decides (it also materializes the
    arrays checkpoint, which the fallback's joins then reuse)."""
    if cap_bytes <= 0:
        return None
    total = arrays.agg(F.sum(F.size("__sh"))).first()[0]
    if total is None or total * 8 > cap_bytes:
        return None
    import numpy as np

    return {
        r[0]: np.asarray(r[1], dtype=np.int64) for r in arrays.collect()
    }


def verify_sets(
    pairs: DataFrame,
    docs: DataFrame,
    metric: str = "jaccard",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 5,
    hash_family: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set similarity on candidate pairs via an Arrow
    kernel — the verify stage of every set-similarity operator here.
    ``metric`` (``_SET_METRICS``): ``"jaccard"`` scores pairs
    (id_a, id_b) by |A∩B| / |A∪B|; ``"containment"`` scores directed
    pairs (src_id, dst_id) by |S_src ∩ S_dst| / |S_src|. Output: the
    pair columns plus a double score column named after the metric.

    Each candidate doc's distinct shingle hashes are collected ONCE
    into a sorted array (one aggregate over the explode); a mapInPandas
    kernel intersects the two sorted arrays per pair. Under
    ``BROADCAST_ARRAYS_MAX_BYTES`` the array dictionary is collected
    and broadcast and the kernel reads pair IDS only; past the cap the
    pair table equi-joins the two arrays in (the join shape). Both
    shapes call the same scoring function, so they return the same
    rows; a pair whose id has no shingle set drops in both. Scores are
    one int/int double division — IEEE-identical to the oracles'
    ``CAST(i AS DOUBLE) / n``. Exactness against the independent
    relational :func:`jaccard_verify` is pinned by test.

    ``shingles``: caller-precomputed distinct hashed-shingle frame
    ``(id_col, __h)`` with the SAME n / hash_family (the
    :func:`hashed_shingles` contract) — a candidate stage that already
    built (and checkpointed) the frame passes it here so the verify
    does not re-run the explode+hash+distinct corpus pass (r12 probe:
    arrays from the checkpointed frame 0.9 s vs 3.3 s rebuilt, 73.5k
    candidates at sf0.1). Collecting the arrays from a SUPERSET frame
    is safe: the semi-join to candidate ids bounds what aggregates."""
    import numpy as np
    import pandas as pd

    m = _SET_METRICS[metric]
    col_a, col_b, score_col = m.col_a, m.col_b, m.score_col

    def score(pdf, sets_a, sets_b):
        # |A∩B| by a merge of presorted uniques (O(|A|+|B|)), then the
        # metric's score, then the threshold; None = id without a
        # shingle set → pair drops
        sc = np.full(len(pdf), np.nan)  # NaN never passes the filter
        for i, (a, b) in enumerate(zip(sets_a, sets_b)):
            if a is None or b is None:
                continue
            inter = np.intersect1d(a, b, assume_unique=True).size
            sc[i] = m.score(inter, len(a), len(b))
        keep = sc >= threshold
        return pd.DataFrame({
            col_a: pdf[col_a].to_numpy()[keep],
            col_b: pdf[col_b].to_numpy()[keep],
            score_col: sc[keep],
        })

    # ``pairs`` is referenced THREE times below (both arms of the ids
    # union + the kernel input) and ``arrays`` TWICE under different
    # join keys in the join shape — exchange reuse cannot dedup
    # differently-keyed consumers (the multi-reference recompute class;
    # the r12 probe measured the candidate chain re-running once per
    # reference: 125 parquet scans / 0 ReusedExchange in
    # dedup_minhash_pipeline's plan). Lazy localCheckpoints inside the operator are honest — the
    # first caller action materializes them inside its own timing.
    pairs = pairs.localCheckpoint(eager=False)
    ids = (
        pairs.select(F.col(col_a).alias(id_col))
        .union(pairs.select(F.col(col_b).alias(id_col)))
        .distinct()
    )
    if shingles is None:
        sh = hashed_shingles(
            docs.join(ids, id_col, "left_semi"), id_col, text_col,
            n=shingle_n, hash_family=hash_family,
        )
    else:
        sh = shingles.join(ids, id_col, "left_semi")
    arrays = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set("__h")).alias("__sh")
    ).localCheckpoint(eager=False)

    pair_types = dict(pairs.dtypes)
    out_schema = (
        f"{col_a} {pair_types[col_a]}, {col_b} {pair_types[col_b]},"
        f" {score_col} double"
    )

    amap = _arrays_map_or_none(arrays, BROADCAST_ARRAYS_MAX_BYTES)
    if amap is not None:
        bc = pairs.sparkSession.sparkContext.broadcast(amap)

        def bkernel(batches):
            m = bc.value  # once per task
            for pdf in batches:
                if len(pdf):
                    yield score(
                        pdf,
                        [m.get(k) for k in pdf[col_a].tolist()],
                        [m.get(k) for k in pdf[col_b].tolist()],
                    )

        return pairs.select(col_a, col_b).mapInPandas(bkernel, out_schema)

    cand = pairs.join(
        arrays.select(F.col(id_col).alias(col_a), F.col("__sh").alias("__sa")),
        col_a,
    ).join(
        arrays.select(F.col(id_col).alias(col_b), F.col("__sh").alias("__sb")),
        col_b,
    )

    def jkernel(batches):
        for pdf in batches:
            if len(pdf):
                yield score(pdf, pdf["__sa"].tolist(), pdf["__sb"].tolist())

    return cand.mapInPandas(jkernel, out_schema)


def prefix_join_sets(
    docs: DataFrame,
    metric: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join over char-n-gram shingle sets via
    prefix filtering (SSJoin/All-Pairs class — Chaudhuri et al. ICDE'06,
    Bayardo et al. WWW'07), for either metric of ``_SET_METRICS``:

    - ``"jaccard"``: pairs (id_a < id_b) with |A∩B| / |A∪B| ≥ threshold
      — the no-false-negative complement to the MinHash-LSH chain. LSH
      trades recall for speed (a near-dup pair can miss every band);
      this join is guaranteed complete, the contract a decontamination
      or legal-dedup pass needs.
    - ``"containment"``: directed pairs (src_id ≠ dst_id) with
      |S_src ∩ S_dst| / |S_src| ≥ threshold. Jaccard misses subset
      relationships by construction (a short doc quoted inside a long
      one has tiny union-normalized similarity); containment is the
      predicate quote/subset dedup and decontamination-by-inclusion
      need (the overlap notion behind suffix-array substring dedup,
      relaxed to shingle sets).

    Filter theorem: a passing pair overlaps in ≥ ⌈t·|x|⌉ tokens of each
    prefix-filtered side x (J ≥ t ⟹ |A∩B| ≥ t·max(|A|,|B|); C ≥ t ⟹
    |S∩D| ≥ t·|S|), so under ANY global total order the two sets collide
    within x's first |x| − ⌈t·|x|⌉ + 1 tokens (pigeonhole). Containment
    bounds the overlap by the SOURCE only and the destination can be
    any superset, so its dst side stays FULL postings (no dst prefix —
    the structural cost vs the symmetric join). The metric's overlap
    bound α (``overlap``) is ⌈t/(1+t)·(|A|+|B|)⌉ or ⌈t·|S_src|⌉.
    Ordering tokens by ascending GLOBAL frequency makes the exploitable
    collisions rare tokens, so the candidate equi-join's per-token
    buckets stay small — that is the entire scale argument, and why the
    frequency pass (one vocabulary-sized agg) is worth its shuffle. A
    size filter (``size_ok``) prunes further, and the PPJoin positional
    filter (Xiao et al. WWW'08) prunes on WHERE in the frequency-ordered
    lists the collision happened: a collision at ranks (p_a, p_b)
    bounds the overlap by 1 + min(|A|−p_a, |B|−p_b), which must reach
    α — lossless as an OR over a pair's collisions (kept by the
    distinct): a passing pair's FIRST common token always satisfies it.
    Measured at sf0.1 (Jaccard): candidates drop to 52% on the
    saturated n=5 tier and to 3.1% on the long-tail n=14 tier (14,786 →
    461 for 256 true pairs). Candidates then go through the exact Arrow
    verify (:func:`verify_sets`, same metric, same shingle hashes), so
    the result equals brute-force all-pairs verification (pinned by
    test for both metrics; the registry oracles brute-force every
    shared-shingle pair, so hash equality proves the pruning lossless).

    No bucket cap, deliberately: capping would reintroduce false
    negatives and void the exactness contract. A mass-duplicated corpus
    (10k identical docs) therefore costs C(10k,2) pairs here — run
    exact_dedup first; that is the honest precondition, not a hidden
    truncation.

    Applicability boundary (measured, not hypothetical): the candidate
    bound rests on a LONG-TAILED token-frequency distribution — real
    text is Zipf and qualifies; a corpus whose shingle vocabulary
    SATURATES defeats it, because even the "rarest" prefix tokens sit in
    hundreds of docs and the prefix equi-join degenerates toward
    all-pairs (containment's full postings side degenerates harder).
    The synthetic 31-word fixture at sf0.1 is exactly that pathology:
    5k docs share 2,041 distinct 5-gram shingles (median shingle in 291
    docs → 217 s). ``shingle_n`` is the de-saturation knob — n=14
    re-establishes the long tail on the same corpus (312k distinct,
    median 2) and restores seconds-scale joins; it CHANGES the
    similarity definition (n-gram sets are parameterized by n), it does
    not approximate it.

    Shuffles: shingle build (1 distinct), freq agg (vocab-sized), per-doc
    rank window, candidate equi-join, verify. The shingle frame is
    referenced by freq, ranks, sizes and the verify under different
    keys — exchange reuse cannot dedup differently-keyed consumers
    (CLAUDE.md) — so it is lazily localCheckpointed inside the operator,
    and the verify reads that checkpoint instead of re-running the
    corpus explode+hash+distinct (r12: arrays 0.9 s vs 3.3 s rebuilt at
    73.5k candidates, sf0.1). The ranks, which feed both sides of the
    candidate join, are not staged: unstaging them read 0.96× (Jaccard)
    and 1.00× (containment) staged time on the salted 10× tier
    (reports/receipts/nockpt_10x_prefix_join_sets_ranks.json, best of 5).

    The freq / sizes / candidate joins carry explicit ``merge`` hints:
    every one of those frames SCALES WITH THE CORPUS (vocabulary by
    Heaps' law, sizes one row per doc, prefix rows ~sz/5 per doc), so a
    broadcast plan is wrong at scale by construction — and Spark's
    static size estimation under-reads aggregates downstream of
    checkpointed (LogicalRDD) sources, statically planning exactly those
    broadcasts: measured at a 500k-doc probe corpus, the driver died
    building them ("Not enough memory to build and broadcast") while the
    same code at 50k ran fine. AQE cannot rescue a statically-planned
    broadcast (there is no shuffle boundary to re-observe). Sort-merge
    is the honest strategy for large-large.
    """
    from pyspark.sql import Window

    assert 0.0 < threshold <= 1.0
    m = _SET_METRICS[metric]
    # staged: sizes, freq, ranks and the verify's arrays all read it
    # (reports/receipts/nockpt_sf0.1_prefix_join_sets.json, unstaged /
    # staged, best of 5: jaccard 1.59×, containment 1.44×)
    sh = hashed_shingles(docs, id_col, text_col, n=shingle_n).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    freq = sh.groupBy("__h").agg(F.count("*").alias("__f"))
    w = Window.partitionBy(id_col).orderBy(F.asc("__f"), F.asc("__h"))
    ranked = (
        sh.join(freq.hint("merge"), "__h")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes.hint("merge"), id_col)
    )
    prefix = (
        F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    )
    if m.symmetric:
        ranked = ranked.filter(prefix)
    probe = ranked if m.symmetric else ranked.filter(prefix)

    def side(frame: DataFrame, pair_col: str, s: str) -> DataFrame:
        return frame.select(
            F.col(id_col).alias(pair_col),
            "__h",
            F.col("__sz").alias(f"__sz_{s}"),
            F.col("__rn").alias(f"__p_{s}"),
        )

    sa, sb = F.col("__sz_a"), F.col("__sz_b")
    alpha = m.overlap(threshold, sa, sb)
    pair_ok = (
        F.col(m.col_a) < F.col(m.col_b) if m.symmetric
        else F.col(m.col_a) != F.col(m.col_b)
    )
    cand = (
        side(probe, m.col_a, "a")
        .join(side(ranked, m.col_b, "b").hint("merge"), "__h")
        .filter(
            pair_ok
            & m.size_ok(threshold, sa, sb)
            & (1 + F.least(sa - F.col("__p_a"), sb - F.col("__p_b")) >= alpha)
        )
        .select(m.col_a, m.col_b)
        .distinct()
    )
    return verify_sets(
        cand, docs, metric, id_col, text_col, threshold,
        shingle_n=shingle_n, shingles=sh,
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int = 256,
    estimate_prefilter: bool = False,
    sigs: DataFrame | None = None,
    hash_family: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates →
    [signature-estimate prefilter →] exact verify. Returns confirmed
    near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    ``estimate_prefilter`` inserts :func:`minhash_estimate_filter`
    (cut at threshold − 3.5σ of the 32-hash estimator) — the scale path
    for corpora whose band collisions outnumber true near-dups; exact
    verification still decides every returned pair. The verify is
    :func:`verify_sets` (Jaccard metric).

    ``sigs``: caller-precomputed minhash signatures (same ``num_hashes``
    and shingle scheme as :func:`add_minhash`) — avoids re-shingling
    when the caller already built them (dedup_incremental reuses the
    batch signatures for the within-batch pass). May cover a SUPERSET
    of ``docs``; the operator semi-joins to docs' ids.

    ``shingles``: caller-precomputed hashed-shingle frame (the
    :func:`hashed_shingles` contract, superset-safe) — forwarded to the
    verify stage (and to the signature build when ``sigs`` is absent)
    so one corpus explode+hash pass feeds the whole chain."""
    if sigs is not None:
        sigs = sigs.join(docs.select(id_col), id_col, "left_semi")
    else:
        sig_shingles = (
            shingles.join(docs.select(id_col), id_col, "left_semi")
            if shingles is not None
            else None
        )
        sigs = add_minhash(
            docs.select(id_col, text_col), text_col, num_hashes, id_col,
            hash_family=hash_family, shingles=sig_shingles,
        )
    pairs = lsh_candidate_pairs(
        sigs, id_col, num_hashes, bands, bucket_cap, hash_family
    )
    if estimate_prefilter:
        import math

        sigma = math.sqrt(threshold * (1 - threshold) / num_hashes)
        pairs = minhash_estimate_filter(
            pairs, sigs, id_col, num_hashes,
            min_estimate=max(threshold - 3.5 * sigma, 0.0),
        )
    return verify_sets(pairs, docs, "jaccard", id_col, text_col, threshold,
                       hash_family=hash_family, shingles=shingles)


# ------------------------------------------------- near-dup clustering


def _unionfind_min_label(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with union-by-min-root: every component's
    root is its minimum id, matching the distributed min-label loop's
    fixpoint exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


# Verified-pair count at or under which dedup_clusters collapses
# components driver-side. Receipt (RESULTS.md, Round 11): union-find
# over 200k edges takes ~0.4 s (0.18 s on a 200k-node single chain —
# path compression keeps it near-linear), less than ONE ~1.2 s round of
# the distributed loop; driver state is ≤ cap edge tuples (~16 bytes
# each). dedup_clusters reads the constant at call time, so tests and
# scripts/ab.py's ``set:`` arm pin the distributed loop by setting it
# to 0.
SMALL_GRAPH_CAP = 200_000


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation: every doc's cluster label converges to the smallest doc
    id reachable through the pair graph. Returns ``(id_col, cluster)``.

    Near-dup graphs have tiny diameters (a dup family is a dense blob,
    and the star pairs from the LSH bucket cap are depth 1), so the loop
    converges in a handful of rounds; each round is one join + one
    min-aggregate. Raises if ``max_iter`` rounds don't reach a fixpoint
    rather than returning silently-partial clusters.

    Lineage discipline (scale bug fixed in round 2): each round's plan
    references the previous labels TWICE, so un-truncated lineage fans
    out 2^i-wise — and a partial materialization (the old
    ``limit(1).count()`` convergence probe cached only the one partition
    it touched) leaves exactly that recompute bomb armed; even a
    416-pair graph hung for minutes. Every round is therefore cut with
    an EAGER ``localCheckpoint`` (all partitions computed, plan replaced
    by the stored result — on a cluster with flaky executors use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for the
    replicated flavor), and the convergence probe aggregates a full
    count, never a limit.

    Small graphs: when the VERIFIED pair count is ≤ ``SMALL_GRAPH_CAP``
    the collapse runs as a driver-side union-find over the collected
    pairs instead — identical output (union-by-min-root ≡ the min-label
    fixpoint). A candidate-verified dup graph is tiny next to the
    corpus, and there the loop's per-round jobs (join + agg + eager
    checkpoint + convergence count) are pure fixed overhead (~1.2 s for
    an 18-node graph at sf0.1). The label frame is built from pandas so
    its rows travel as Arrow."""
    # persist the pair input: the size probe and the symmetric edge
    # union scan it, and upstream pair generation (LSH + Jaccard verify)
    # is the expensive part of the whole clustering path
    pairs = pairs.persist()
    if pairs.count() <= SMALL_GRAPH_CAP:
        import pandas as pd

        rows = pairs.select("id_a", "id_b").collect()
        pairs.unpersist()
        labels = _unionfind_min_label([(r[0], r[1]) for r in rows])
        id_type = dict(pairs.dtypes)["id_a"]
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame(sorted(labels.items()), columns=[id_col, "cluster"]),
            f"{id_col} {id_type}, cluster {id_type}",
        )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster"))
        raise RuntimeError(f"dedup_clusters did not converge in {max_iter} iterations")
    finally:
        edges.unpersist()
        pairs.unpersist()


def keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus dedup, final step: collapse each near-dup cluster to its
    canonical (min-id) member. Docs in no pair pass through untouched —
    the left join against the (small) cluster map costs one shuffle of
    the cluster assignments, not the corpus."""
    clusters = dedup_clusters(pairs, id_col)
    drop = clusters.filter(F.col(id_col) != F.col("cluster")).select(id_col)
    return docs.join(drop, id_col, "left_anti")


def dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int = 256,
) -> DataFrame:
    """Daily-ingest dedup: drop new docs that near-duplicate the
    EXISTING corpus, then collapse within-batch near-dup clusters to
    their canonical member. Returns the surviving new docs.

    The 100-TB contract this shape exists for: the corpus is touched
    only through its persisted LSH ``corpus_index``
    (:func:`minhash_band_index` — id/band/hash rows, a few hundred
    bytes per doc) plus a candidate-only semi-join back to corpus TEXT
    for exact verification. Re-shingling 100 TB per daily batch is the
    anti-pattern; re-shingling the handful of corpus docs that share a
    band with today's batch is the point.

    Cross-candidate generation is the batch bands ⋈ corpus index
    equi-join — per-bucket cost is (batch bucket) × (corpus bucket), so
    a boilerplate-heavy CORPUS bucket multiplies every colliding new
    doc. The operator assumes the corpus itself was deduped when
    indexed (every pipeline's invariant: the index is built from
    yesterday's SURVIVORS), which caps corpus buckets the same way
    ``bucket_cap`` caps the within-batch join. Exact verification
    decides every drop — LSH only proposes.

    Id spaces of batch and corpus must be disjoint. This is the
    CALLER's contract: shared ids are FILTERED from the candidate pairs
    (the ``id_a != id_b`` backstop below), not asserted — a genuinely
    reused id (same id, different text) is silently excluded from
    cross-corpus verification rather than surfaced, so callers that
    can't guarantee disjointness should pre-check with
    ``new_docs.join(corpus_index, id, 'left_semi').isEmpty()``.
    """
    # ONE batch explode+hash pass (r13): the hashed-shingle frame feeds
    # the signature build, the cross-corpus verify, AND the within-batch
    # verify — before this cut the batch text was exploded+hashed three
    # times (signatures + each verify's shingle rebuild). Lazy cut; the
    # first caller action materializes it.
    sh_batch = hashed_shingles(
        new_docs.select(id_col, text_col), id_col, text_col
    ).localCheckpoint(eager=False)
    new_sigs = add_minhash(
        new_docs.select(id_col, text_col), text_col, num_hashes, id_col,
        shingles=sh_batch,
    ).localCheckpoint(eager=False)
    # lazy cut: the batch signatures are read by the cross-corpus
    # banding AND reused (filtered to survivors) by the within-batch
    # pass below — without it each reference re-shingles the batch
    nb = band_rows(new_sigs, id_col, num_hashes, bands)
    cross = (
        nb.join(
            corpus_index.select(
                F.col(id_col).alias("__cid"), "band_id", "bh"
            ),
            ["band_id", "bh"],
        )
        .select(F.col(id_col).alias("id_a"), F.col("__cid").alias("id_b"))
        .distinct()
        .filter(F.col("id_a") != F.col("id_b"))  # disjointness backstop
        # lazy cut: the verify stage references the candidate pairs (and
        # through them the whole band join) on BOTH of its doc sides —
        # without the checkpoint each reference re-plans the full
        # pipeline and the nested plan alone OOMs a default-heap driver
        # (hit at sf0.01 in a vanilla session before any data moved)
        .localCheckpoint(eager=False)
    )
    # verify only candidate docs: batch side + the touched corpus slice
    cand_corpus = corpus_docs.select(id_col, text_col).join(
        cross.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_semi"
    )
    docs_both = new_docs.select(id_col, text_col).unionByName(cand_corpus)
    # batch shingles from the shared frame; only the touched corpus
    # slice is freshly exploded (that slice is the whole point of the
    # incremental shape — never the corpus)
    sh_both = sh_batch.unionByName(
        hashed_shingles(cand_corpus, id_col, text_col)
    )
    confirmed = verify_sets(
        cross, docs_both, "jaccard", id_col, text_col, threshold, shingles=sh_both
    )
    contaminated = confirmed.select(F.col("id_a").alias(id_col)).distinct()
    # same lazy-cut reasoning: minhash_dedup fans the survivor frame
    # into signatures, banding, and both verify sides — each a full
    # re-plan of the contamination pipeline without the checkpoint
    survivors = new_docs.join(contaminated, id_col, "left_anti").localCheckpoint(
        eager=False
    )
    # within-batch collapse over the survivors only (docs dropped for
    # corpus contamination must not become within-batch canonicals);
    # reuse the batch signatures (semi-joined to survivors inside)
    in_batch = minhash_dedup(
        survivors, id_col, text_col, num_hashes, bands, threshold, bucket_cap,
        sigs=new_sigs, shingles=sh_batch,
    )
    return keep_canonical(survivors, in_batch, id_col)


# ------------------------------------------------------------------ SimHash


def add_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """63-bit SimHash per doc: explode tokens → xxhash64 ONCE per token →
    63 conditional-SUM bit votes in a single hash aggregate.

    Spark's higher-order array lambdas (``aggregate``/``transform``) are
    interpreted, never codegen'd — the previous formulation inlined the
    tokenizer into 63 separate ``aggregate()`` lambdas, re-evaluating
    ``split()`` 63× per row. The exploded shape keeps tokenize + hash +
    votes inside whole-stage codegen with map-side partial aggregation
    (same rewrite measured 12.0 s → 1.4 s on the benchquery twin,
    benchqueries/dedup_ops.py). Bit 63 is left unused so the fingerprint
    stays a positive signed long.

    Returns ``(id_col, sh)``. At 100 TB this is one shuffle keyed on
    ``id_col`` with partial aggregation of the 63 vote counters map-side.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("__tok"),
    )
    hashed = tok.select(id_col, F.xxhash64("__tok").alias("__th"))
    votes = [
        F.sum(
            F.when(F.expr(f"(__th >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"__v{b}")
        for b in range(63)
    ]
    fingerprint = F.expr(
        " + ".join(
            f"(CASE WHEN __v{b} > 0 THEN CAST({1 << b} AS LONG) ELSE 0L END)"
            for b in range(63)
        )
    )
    return hashed.groupBy(id_col).agg(*votes).select(F.col(id_col), fingerprint.alias("sh"))


def simhash_near_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Candidate generation
    blocks on the 4×16-bit chunks (a pair within Hamming ≤ 3 of 64 bits
    must share at least one exact 16-bit chunk — pigeonhole)."""
    sh = add_simhash(docs.select(id_col, text_col), id_col, text_col)
    return hamming_near_pairs(sh, id_col, "sh", max_hamming)


def hamming_near_pairs(
    hashed: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """Hamming-near pairs over ANY precomputed ≤63-bit integer hash
    column (SimHash over text, perceptual image hashes, audio
    fingerprints …) via 4×16-bit pigeonhole blocking: a pair within
    Hamming ≤ 3 must agree exactly on at least one chunk, so candidates
    come from a (chunk_id, chunk) equi-join — one keyed shuffle, never
    all-pairs — and the exact bit_count(xor) verify runs on candidates
    only."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming}: 4×16-bit pigeonhole blocking only "
            "guarantees recall for Hamming ≤ 3 (a distance-4 pair can differ "
            "in every chunk); use more/narrower chunks for larger radii"
        )
    # the chunk frame self-joins below, so everything upstream of it —
    # often a full corpus pass (SimHash tokenize+votes) or per-row Python
    # codec work (image phash decode) — would run once per join side
    # (CTE-inlining recompute class). Lazy-checkpoint the 12-byte-per-row
    # (id, hash) projection first: one upstream materialization, both
    # sides read it (in-operator lazy checkpoint is the honest pattern —
    # the first caller action pays for it inside its own timing).
    hashed = hashed.select(id_col, hash_col).localCheckpoint(eager=False)
    chunks = hashed.select(
        id_col,
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.expr(f"({hash_col} >> {c * 16}) & 65535").alias("chunk"),
                )
                for c in range(4)
            ])
        ).alias("c"),
    ).select(id_col, "__h", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__h").alias("h_a"),
            F.col("b.__h").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("h_a ^ h_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
