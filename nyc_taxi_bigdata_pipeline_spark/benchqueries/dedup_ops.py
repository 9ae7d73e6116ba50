"""Deduplication operators over the documents table (training-data
pipeline extensions): exact hash dedup, word-n-gram Jaccard, MinHash,
SimHash.

Spark-first design notes (100 TB mindset):
- Exact dedup is a hash-groupBy — one shuffle on the fingerprint, with
  map-side partial aggregation.
- N-gram/MinHash/SimHash signatures are computed with JVM array
  expressions (whole-stage codegen), NOT Python UDFs — the per-doc
  signature work is embarrassingly parallel and stays in Tungsten.
- Candidate generation at scale uses LSH band-bucket joins
  (operators/dedup.py); the oracle-checked queries here use bounded pair
  sets (adjacent doc ids / band joins at test SF) so DuckDB can verify
  the exact same arithmetic via the portable md5 hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import dialect as D
from .registry import register


def _run_rendered(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    render,
    view: str,
    parallelize_on: str | None = None,
) -> DataFrame:
    """``parallelize_on``: hash-repartition the scan on that column before
    the query. CPU-heavy per-row work (md5 signature passes) otherwise runs
    on however many input splits the file has — a single small parquet file
    is ONE split, serializing the whole map stage. At 100 TB the scan has
    thousands of splits and this is a no-op cost-wise; on the single-file
    test SFs it's the difference between 1 and 32 busy cores (measured
    2.5 s → 0.7 s on dedup_minhash_bands at sf0.1). Result-invariant:
    partitioning never changes aggregated output."""
    df = load_table(spark, sf_dir, table)
    if parallelize_on is not None:
        df = df.repartition(spark.sparkContext.defaultParallelism, parallelize_on)
    df.createOrReplaceTempView(view)
    return spark.sql(render(D.SPARK, view))


# --------------------------------------------------------------- exact dedup


def _dedup_exact(engine: str, table: str) -> str:
    fp = D.h64("lower(trim(text))", engine)
    return f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT {fp}) AS distinct_docs,
           CAST(COUNT(*) - COUNT(DISTINCT {fp}) AS BIGINT) AS exact_dups
    FROM {table}"""


@register(
    "dedup_exact",
    _dedup_exact(D.DUCK, "documents"),
    doc="training-data ext: exact dedup via hash-groupBy on normalized text "
        "(one shuffle, map-side combine)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _dedup_exact, "bq_dexact_docs")


# ------------------------------------------------- n-gram Jaccard similarity


def _word_shingles(engine: str, n: int = 3) -> str:
    """Distinct word-n-gram shingle array over a staged token array
    ``__t``. The index sequence is clamped ascending (GREATEST — Spark's
    sequence() flips descending when start > stop) AND filtered to
    in-range starts, so docs with < n tokens yield an EMPTY shingle set
    instead of tripping Spark's ANSI ARRAY_INDEX_OUT_OF_BOUNDS
    (element_at raises under ANSI mode; DuckDB would return NULL —
    divergence either way)."""
    alen = D.alen("__t", engine)
    seq = D.iseq("1", f"greatest({alen} - {n - 1}, 1)", engine)
    valid = D.arr_filter(seq, f"i -> i + {n - 1} <= {alen}", engine)
    idx = [D.at("__t", f"i + {j}", engine) for j in range(n)]
    sep = ", ' ', "
    lam = f"i -> concat({sep.join(idx)})"
    return D.arr_distinct(D.transform(valid, lam, engine), engine)


def _ngram_expr(engine: str, n: int = 3) -> tuple[str, str]:
    """(distinct word-n-gram array over column __t, tokenizer expr)."""
    toks = D.split_ws("trim(text)", engine)
    return _word_shingles(engine, n), toks


def _ngram_jaccard(engine: str, table: str) -> str:
    grams, toks = _ngram_expr(engine, 3)
    inter = D.alen(D.arr_intersect("a.g", "b.g", engine), engine)
    size_a = D.alen("a.g", engine)
    size_b = D.alen("b.g", engine)
    return f"""
    WITH g AS (
      SELECT doc_id, {grams} AS g
      FROM (SELECT doc_id, {toks} AS __t FROM {table}) tt
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({inter} AS DOUBLE) / NULLIF({size_a} + {size_b} - {inter}, 0) AS jaccard
    FROM g a JOIN g b ON b.doc_id = a.doc_id + 1"""


@register(
    "dedup_ngram_jaccard",
    _ngram_jaccard(D.DUCK, "documents"),
    doc="training-data ext: word-3-gram Jaccard similarity on a bounded "
        "deterministic pair set (adjacent doc ids); the scale path buckets "
        "pairs via LSH first (operators/dedup.py)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _ngram_jaccard, "bq_njac_docs")


# ---------------------------------------------------------------- MinHash


_MINHASH_SEEDS = tuple(range(8))
_BANDS = 4  # 4 bands × 2 rows


def _minhash_sig(engine: str) -> tuple[str, list[str], list[str]]:
    """Minhash family over WORD-3-gram shingles of the staged token array
    __t: each md5 yields TWO independent 60-bit hashes (hex chars 1-15
    and 17-31), so 8 signature slots cost 4 md5 passes, each materialized
    once into a staging array (no per-slot re-hashing). Portable: md5 +
    hex→int agree bit-for-bit across engines; no modular arithmetic whose
    overflow semantics could diverge.

    Word shingles (not char-5-grams) because the md5 passes run through
    interpreted transform() lambdas on the Spark side: ~54 tokens/doc →
    ~52 shingles vs ~293 char-grams, a 5.6× cut in md5 evaluations
    (measured 9.2 s → under 2 s at sf0.1). Word 3-shingles are also the
    standard granularity for document near-dup (vs char grams, which
    suit short/noisy strings)."""
    shingles = _word_shingles(engine, 3)
    n_md5 = len(_MINHASH_SEEDS) // 2
    stages = [
        D.transform("__sh", f"x -> MD5(CONCAT('{k}#', x))", engine) for k in range(n_md5)
    ]
    sigs = []
    for k in range(n_md5):
        for lo in (1, 17):
            hashed = D.transform(
                f"__m{k}", f"h -> {D.hex15_to_int('substring(h, ' + str(lo) + ', 15)', engine)}",
                engine,
            )
            sigs.append(D.arr_min(hashed, engine))
    return shingles, stages, sigs


def _minhash_bands(engine: str, table: str) -> str:
    shingles, stages, sigs = _minhash_sig(engine)
    stage_cols = ", ".join(f"{s} AS __m{k}" for k, s in enumerate(stages))
    sig_cols = ", ".join(f"{s} AS mh{i}" for i, s in enumerate(sigs))
    band_exprs = []
    rows = len(_MINHASH_SEEDS) // _BANDS
    for b in range(_BANDS):
        # concat_ws (NULL-skipping in BOTH engines) keeps band hashes
        # cross-engine identical even for empty-shingle docs where the
        # minhash slots are NULL; plain concat diverges (Spark → NULL,
        # DuckDB skips).
        cols = ", ".join(f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows))
        banded = "concat_ws('#', " + cols + ")"
        band_exprs.append(f"{D.h64(banded, engine)} AS band{b}")
    return f"""
    WITH sigs AS (
      SELECT doc_id, {sig_cols}
      FROM (
        SELECT doc_id, {stage_cols}
        FROM (
          SELECT doc_id, {shingles} AS __sh
          FROM (SELECT doc_id, {D.split_ws('lower(trim(text))', engine)} AS __t FROM {table}) n
        ) s0
      ) s
    ),
    banded AS (SELECT doc_id, {', '.join(band_exprs)} FROM sigs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           COUNT(DISTINCT band0) AS b0_buckets,
           COUNT(DISTINCT band1) AS b1_buckets,
           COUNT(DISTINCT band2) AS b2_buckets,
           COUNT(DISTINCT band3) AS b3_buckets
    FROM banded"""


@register(
    "dedup_minhash_bands",
    _minhash_bands(D.DUCK, "documents"),
    doc="training-data ext: MinHash signatures (8 seeded portable hashes over "
        "word-3-gram shingles) banded 4×2 for LSH bucketing; bucket-cardinality "
        "summary is the oracle-checked surface, pair generation lives in "
        "operators/dedup.py",
    bench=True,
)
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _minhash_bands, "bq_mh_docs", parallelize_on="doc_id"
    )


def _mhv_corpus_body(table: str) -> str:
    """Default planted-dup relation: the corpus plus an exact copy AND
    a one-token append of every doc_id < 50 base doc, so confirmed
    pairs at threshold 0.7 are non-trivial and clusters chain."""
    return f"""
      SELECT doc_id, text FROM {table} WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, text FROM {table}
      WHERE text IS NOT NULL AND doc_id < 50
      UNION ALL
      SELECT doc_id + 2000000, concat(text, ' zzextra') FROM {table}
      WHERE text IS NOT NULL AND doc_id < 50"""


def _mhv_fragments(
    engine: str,
    table: str,
    corpus_body: str | None = None,
    sfx: str = "",
) -> tuple[str, str, str]:
    """(prefix, brows_tail, g_tail) for the MinHash verify pipeline:
    ``prefix`` is the corpus{sfx}/toks{sfx}/sigs{sfx}/banded{sfx} CTE
    list (no WITH keyword); ``WITH {prefix} {brows_tail}`` and ``WITH
    {prefix} {g_tail}`` are standalone statements. Split out so the
    Spark side can materialize the two full-corpus passes ONCE each
    (CTE-inlining pitfall) while the oracle chains everything in one
    WITH; ``sfx`` disambiguates CTE names when one statement carries
    two relations (dedup_incremental_verify's corpus + batch).

    Band geometry: 2 bands × 4 rows (collision threshold ≈ 0.84) —
    on this tiny-vocab synthetic corpus 2-row bands collide for ~4% of
    ALL pairs (measured, operators/dedup docstrings); 4-row bands keep
    candidates in the hundreds."""
    shingles, stages, sigs = _minhash_sig(engine)
    stage_cols = ", ".join(f"{s} AS __m{k}" for k, s in enumerate(stages))
    sig_cols = ", ".join(f"{s} AS mh{i}" for i, s in enumerate(sigs))
    rows = 4
    band_exprs = []
    for b in range(2):
        cols = ", ".join(f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows))
        banded = "concat_ws('#', " + cols + ")"
        band_exprs.append(f"{D.h64(banded, engine)} AS band{b}")
    toks = D.split_ws("lower(trim(text))", engine)
    body = corpus_body if corpus_body is not None else _mhv_corpus_body(table)
    prefix = f"""corpus{sfx} AS ({body}
    ),
    toks{sfx} AS (SELECT doc_id, {toks} AS __t FROM corpus{sfx}),
    sigs{sfx} AS (
      SELECT doc_id, {sig_cols}
      FROM (
        SELECT doc_id, {stage_cols}
        FROM (SELECT doc_id, {shingles} AS __sh FROM toks{sfx}) s0
      ) s
    ),
    banded{sfx} AS (SELECT doc_id, {', '.join(band_exprs)} FROM sigs{sfx})"""
    brows_tail = f"""
    SELECT doc_id, 0 AS band_id, band0 AS bh FROM banded{sfx}
    UNION ALL
    SELECT doc_id, 1 AS band_id, band1 AS bh FROM banded{sfx}"""
    g_tail = f"SELECT doc_id, {shingles} AS g FROM toks{sfx}"
    return prefix, brows_tail, g_tail


def _mhv_verify_sql(engine: str, brows_rel: str, g_rel: str) -> str:
    """Candidate equi-join + exact word-3-gram Jaccard verify over
    materialized band rows / shingle arrays."""
    inter = D.alen(D.arr_intersect("ga.g", "gb.g", engine), engine)
    size_a = D.alen("ga.g", engine)
    size_b = D.alen("gb.g", engine)
    return f"""
    WITH cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {brows_rel} a JOIN {brows_rel} b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST({inter} AS DOUBLE)
             / NULLIF({size_a} + {size_b} - {inter}, 0) AS jaccard
    FROM cand
    JOIN {g_rel} ga ON ga.doc_id = id_a
    JOIN {g_rel} gb ON gb.doc_id = id_b
    WHERE CAST({inter} AS DOUBLE)
             / NULLIF({size_a} + {size_b} - {inter}, 0) >= 0.7
    ORDER BY id_a, id_b"""


def _minhash_verify(engine: str, table: str) -> str:
    """FULL portable MinHash pipeline — signatures → LSH band buckets →
    candidate equi-join → exact word-3-gram Jaccard verification — as one
    WITH chain, so DuckDB replays candidate GENERATION and verification
    bit-for-bit (dedup_minhash_bands stops at bucket cardinalities).
    LSH misses are DETERMINISTIC (seeded md5 family), so both engines
    miss the same ~5% of j≈0.94 pairs — the output pins actual pipeline
    recall, not just verification arithmetic."""
    prefix, brows_tail, g_tail = _mhv_fragments(engine, table)
    verify_tail = _mhv_verify_sql(engine, "brows", "g").split("WITH", 1)[1]
    return f"""
    WITH {prefix},
    brows AS ({brows_tail}),
    g AS ({g_tail}),{verify_tail}"""


@register(
    "dedup_minhash_verify",
    _minhash_verify(D.DUCK, "documents"),
    doc="training-data ext: the FULL MinHash near-dup pipeline oracle-"
        "backed end-to-end — portable md5 signatures → 2×4 LSH band "
        "buckets → candidate equi-join → exact word-3-gram Jaccard "
        "verify at 0.7, over a planted-dup corpus (exact copy + one-"
        "token append per base doc). DuckDB replays candidate generation "
        "AND verification, pinning pipeline recall itself (LSH misses "
        "are deterministic under the seeded hash family); "
        "operators/dedup.minhash_dedup is the xxhash64/Arrow production "
        "twin, scale-probed separately",
)
def dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark INLINES non-recursive CTEs: the one-shot WITH text re-runs
    # the interpreted md5 signature passes once per downstream reference
    # (brows×2 via cand's self-join, g×2 via the verify joins — measured
    # 28.5 s at sf0.1). Run each full-corpus pass ONCE into its small
    # relation (2 band rows / one ~52-string array per doc), lazy
    # localCheckpoint + temp view, and join the views — the hdr-sketch
    # pattern; the DuckDB oracle keeps the single WITH (it materializes
    # CTEs). Lazy checkpoints are honest in a builder: the first caller
    # action pays for them inside the timed window.
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_mhv_docs")
    prefix, brows_tail, g_tail = _mhv_fragments(D.SPARK, "bq_mhv_docs")
    # receipt: unstaged/staged 15.15× at 10×
    # (reports/receipts/nockpt_10x_dedup_minhash_verify.json; this builder's 2 stagings A/B'd together)
    brows = spark.sql(f"WITH {prefix} {brows_tail}").localCheckpoint(eager=False)
    brows.createOrReplaceTempView("bq_mhv_brows")
    # receipt: with this builder's first staging (15.15× at 10×)
    g = spark.sql(f"WITH {prefix} {g_tail}").localCheckpoint(eager=False)
    g.createOrReplaceTempView("bq_mhv_g")
    return spark.sql(_mhv_verify_sql(D.SPARK, "bq_mhv_brows", "bq_mhv_g"))


def _minhash_pipeline_oracle(
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int = 256,
    n: int = 5,
) -> str:
    """DuckDB replay of the PRODUCTION operator chain
    (operators/dedup.minhash_dedup under hash_family='portable'):
    char-5-gram shingles → one md5-based h64 per shingle → N members
    via the (a·h%P + b)%P family → per-band portable hash of the
    concat_ws'd member strings → bucket-capped candidate join (big
    buckets emit representative-star pairs, small buckets all-pairs,
    DISTINCT across bands) → exact distinct-shingle Jaccard. Every
    constant is generated from the same portable_minhash_params the
    operator embeds, so the two sides share their math by construction.

    DuckDB-only text (the Spark side runs the operator, never this):
    AS MATERIALIZED pins the multi-referenced md5 passes — DuckDB 1.0
    sometimes inlines chained CTEs (CLAUDE.md SSSP incident) and sh is
    referenced by sigs + g, brows by sizes + tagged."""
    from ..operators.dedup import _PORTABLE_P, portable_minhash_params

    P = _PORTABLE_P
    h = (
        f"CAST(CONCAT('0x', SUBSTRING(MD5(substr(__t, i, {n})), 1, 15))"
        " AS BIGINT)"
    )
    mins = ",\n             ".join(
        f"MIN(({a} * (h % {P}) + {b}) % {P}) AS mh{k}"
        for k, (a, b) in enumerate(portable_minhash_params(num_hashes))
    )
    rows = num_hashes // bands
    band_sel = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        bh = (
            f"CAST(CONCAT('0x', SUBSTRING(MD5(concat_ws('#', {cols})),"
            " 1, 15)) AS BIGINT)"
        )
        band_sel.append(f"SELECT doc_id, {b} AS band_id, {bh} AS bh FROM sigs")
    brows = "\n      UNION ALL\n      ".join(band_sel)
    inter = "len(list_intersect(ga.g, gb.g))"
    jac = f"CAST({inter} AS DOUBLE) / (len(ga.g) + len(gb.g) - {inter})"
    return f"""
    WITH corpus AS ({_mhv_corpus_body(table)}
    ),
    pos AS (
      SELECT doc_id, text AS __t,
             unnest(range(1, greatest(len(text) - {n - 1}, 1) + 1)) AS i
      FROM corpus
    ),
    sh AS MATERIALIZED (SELECT doc_id, {h} AS h FROM pos),
    sigs AS MATERIALIZED (
      SELECT doc_id, {mins}
      FROM sh GROUP BY doc_id
    ),
    brows AS MATERIALIZED (
      {brows}
    ),
    sizes AS (SELECT band_id, bh, COUNT(*) AS bn, MIN(doc_id) AS rep
              FROM brows GROUP BY band_id, bh),
    tagged AS MATERIALIZED (
      SELECT b.doc_id, b.band_id, b.bh, s.bn, s.rep
      FROM brows b JOIN sizes s ON b.band_id = s.band_id AND b.bh = s.bh
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM tagged a JOIN tagged b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
        WHERE a.bn <= {bucket_cap}
        UNION ALL
        SELECT rep AS id_a, doc_id AS id_b
        FROM tagged WHERE bn > {bucket_cap} AND doc_id <> rep
      ) u
    ),
    g AS MATERIALIZED (
      SELECT doc_id, list_sort(list_distinct(list(h))) AS g
      FROM sh GROUP BY doc_id
    )
    SELECT id_a, id_b, {jac} AS jaccard
    FROM cand
    JOIN g ga ON ga.doc_id = id_a
    JOIN g gb ON gb.doc_id = id_b
    WHERE {jac} >= {threshold}
    ORDER BY id_a, id_b"""


@register(
    "dedup_minhash_pipeline",
    _minhash_pipeline_oracle("documents"),
    doc="training-data ext: the FULL production near-dup pipeline — "
        "operators/dedup.minhash_dedup (signatures → LSH band buckets → "
        "bucket-capped candidate join → exact Arrow-kernel Jaccard "
        "verify) run under hash_family='portable', so DuckDB replays the "
        "ENTIRE operator chain including the char-5-gram shingle scheme, "
        "the (a·h+b) mod P member family, and the star-pair bucket cap. "
        "Oracle-converted r12 (was rows-only on xxhash64): the xxhash64 "
        "default stays the scale path, same plan shape",
    bench=True,
)
def dedup_minhash_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_dedup

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    )
    base = docs.filter(F.col("doc_id") < 50)
    exact_dup = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    near_dup = base.withColumn("doc_id", F.col("doc_id") + 2_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzextra"))
    )
    corpus = docs.unionByName(exact_dup).unionByName(near_dup)
    # single-file scan + derived unions are a 1-partition layout — the
    # signature/shingle stages inherit it (CLAUDE.md pitfall; 7.5→5.8 s)
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # bands=4 → 4 rows/band (banding threshold ≈ 0.7): on this tiny-vocab
    # synthetic corpus 2-row bands collide for ~4% of ALL pairs (528k
    # candidates from 5.1k docs, measured) — band width must track the
    # corpus' baseline similarity, not just the target threshold
    pairs = minhash_dedup(
        corpus, num_hashes=16, bands=4, threshold=0.5, hash_family="portable"
    )
    return pairs.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")


# ----------------------------------------- incremental batch-vs-corpus


def _inc_batch_body(table: str) -> str:
    """Synthetic ingest batch with a known composition: 60 exact copies
    of corpus docs, 60 one-token-append near-dups of OTHER corpus docs,
    and 40 reversed-text docs planted TWICE (fresh vs the corpus —
    char-reversal destroys every word shingle — but exact dups of each
    other, so the within-batch collapse has work to do)."""
    return f"""
      SELECT doc_id + 1000000 AS doc_id, text FROM {table}
      WHERE text IS NOT NULL AND doc_id < 60
      UNION ALL
      SELECT doc_id + 2000000, concat(text, ' zzextra') FROM {table}
      WHERE text IS NOT NULL AND doc_id >= 60 AND doc_id < 120
      UNION ALL
      SELECT doc_id + 3000000, reverse(text) FROM {table}
      WHERE text IS NOT NULL AND doc_id < 40
      UNION ALL
      SELECT doc_id + 4000000, reverse(text) FROM {table}
      WHERE text IS NOT NULL AND doc_id < 40"""


def _jacc(engine: str, a: str, b: str) -> str:
    inter = D.alen(D.arr_intersect(a, b, engine), engine)
    return (
        f"CAST({inter} AS DOUBLE) / NULLIF({D.alen(a, engine)}"
        f" + {D.alen(b, engine)} - {inter}, 0)"
    )


def _inc_cross_dropped_sql(engine: str, brows_b: str, brows_c: str,
                           g_b: str, g_c: str) -> str:
    """Batch docs confirmed (≥0.7) against any colliding corpus doc —
    the corpus is touched only through its band index + the candidate
    docs' shingle arrays (the dedup_incremental contract)."""
    jac = _jacc(engine, "gb.g", "gc.g")
    return f"""
    WITH cross_cand AS (
      SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
      FROM {brows_b} b JOIN {brows_c} c
        ON c.band_id = b.band_id AND c.bh = b.bh
    )
    SELECT DISTINCT cand.bid AS doc_id
    FROM cross_cand cand
    JOIN {g_b} gb ON gb.doc_id = cand.bid
    JOIN {g_c} gc ON gc.doc_id = cand.cid
    WHERE {jac} >= 0.7"""


def _inc_win_pairs_sql(engine: str, brows_b: str, g_b: str,
                       dropped: str) -> str:
    """Confirmed within-batch pairs among the corpus-survivors."""
    jac = _jacc(engine, "ga.g", "gb2.g")
    return f"""
    WITH surv AS (
      SELECT DISTINCT bb.doc_id FROM {brows_b} bb
      WHERE NOT EXISTS (SELECT 1 FROM {dropped} dr
                        WHERE dr.doc_id = bb.doc_id)
    ),
    win_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {brows_b} a JOIN {brows_b} b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
      WHERE EXISTS (SELECT 1 FROM surv sa WHERE sa.doc_id = a.doc_id)
        AND EXISTS (SELECT 1 FROM surv sb WHERE sb.doc_id = b.doc_id)
    )
    SELECT id_a, id_b
    FROM win_cand
    JOIN {g_b} ga ON ga.doc_id = id_a
    JOIN {g_b} gb2 ON gb2.doc_id = id_b
    WHERE {jac} >= 0.7"""


def _inc_status_sql(brows_b: str, cross_dropped: str, win_dropped: str) -> str:
    return f"""
    SELECT bb.doc_id,
           CASE WHEN EXISTS (SELECT 1 FROM {cross_dropped} cd
                             WHERE cd.doc_id = bb.doc_id)
                THEN 'dup_of_corpus'
                WHEN EXISTS (SELECT 1 FROM {win_dropped} wd
                             WHERE wd.doc_id = bb.doc_id)
                THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM (SELECT DISTINCT doc_id FROM {brows_b}) bb
    ORDER BY bb.doc_id"""


def _inc_verify_oracle(table: str) -> str:
    """One-shot DuckDB replay of the whole incremental chain; the
    within-batch collapse is the WITH RECURSIVE closure (the
    dedup_components idiom)."""
    pc, bc_tail, gc_tail = _mhv_fragments(
        D.DUCK, table, corpus_body=f"""
      SELECT doc_id, text FROM {table} WHERE text IS NOT NULL""", sfx="_c")
    pb, bb_tail, gb_tail = _mhv_fragments(
        D.DUCK, table, corpus_body=_inc_batch_body(table), sfx="_b")
    cross = _inc_cross_dropped_sql(
        D.DUCK, "brows_b", "brows_c", "g_b", "g_c"
    ).lstrip().removeprefix("WITH")
    cross_prefix, cross_select = cross.split(")\n", 1)
    win = _inc_win_pairs_sql(D.DUCK, "brows_b", "g_b", "cross_dropped")
    win_prefix, win_select = (
        win.lstrip().removeprefix("WITH").rsplit(")\n", 1)
    )
    status = _inc_status_sql("brows_b", "cross_dropped", "win_dropped")
    return f"""
    WITH RECURSIVE {pc},
    {pb},
    brows_c AS ({bc_tail}),
    g_c AS ({gc_tail}),
    brows_b AS ({bb_tail}),
    g_b AS ({gb_tail}),
    {cross_prefix}),
    cross_dropped AS ({cross_select}),
    {win_prefix}),
    win_pairs AS ({win_select}),
    edges AS (SELECT id_a AS a, id_b AS b FROM win_pairs
              UNION SELECT id_b, id_a FROM win_pairs),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    win_dropped AS (
      SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) <> src
    )
    {status}"""


@register(
    "dedup_incremental_verify",
    _inc_verify_oracle("documents"),
    doc="training-data ext: incremental (batch-vs-corpus) dedup "
        "oracle-backed end-to-end — a synthetic ingest batch (60 exact "
        "corpus copies, 60 near-dups, 40 fresh reversed docs planted "
        "twice) is checked against the CORPUS BAND INDEX (the corpus is "
        "never re-shingled beyond colliding candidates), survivors are "
        "collapsed within-batch via the component operator, "
        "and every batch doc gets a status (dup_of_corpus / "
        "dup_in_batch / kept). DuckDB replays the whole chain, closing "
        "the within-batch collapse with WITH RECURSIVE; "
        "operators/dedup.dedup_incremental is the xxhash64 production "
        "twin with a persisted parquet index",
)
def dedup_incremental_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_inc_docs")
    # materialize each relation's full-text pass ONCE (CTE-inlining
    # class): band rows are the persisted-index analog, shingle arrays
    # the candidate-verify working set
    pc, bc_tail, gc_tail = _mhv_fragments(
        D.SPARK, "bq_inc_docs", corpus_body="""
      SELECT doc_id, text FROM bq_inc_docs WHERE text IS NOT NULL""",
        sfx="_c")
    pb, bb_tail, gb_tail = _mhv_fragments(
        D.SPARK, "bq_inc_docs", corpus_body=_inc_batch_body("bq_inc_docs"),
        sfx="_b")
    for view, prefix, tail in (
        ("bq_inc_brows_c", pc, bc_tail),
        ("bq_inc_g_c", pc, gc_tail),
        ("bq_inc_brows_b", pb, bb_tail),
        ("bq_inc_g_b", pb, gb_tail),
    ):
        # receipt: unstaged/staged >35× at 10× (nockpt cut after ~1,150 s vs
        # 32.8 s staged; reports/receipts/nockpt_10x_dedup_incremental_verify.md;
        # this builder's 2 stagings A/B'd together)
        spark.sql(f"WITH {prefix} {tail}").localCheckpoint(
            eager=False
        ).createOrReplaceTempView(view)
    cross_dropped = spark.sql(
        _inc_cross_dropped_sql(
            D.SPARK, "bq_inc_brows_b", "bq_inc_brows_c",
            "bq_inc_g_b", "bq_inc_g_c",
        )
        # receipt: with this builder's first staging (>35× at 10×)
    ).localCheckpoint(eager=False)
    cross_dropped.createOrReplaceTempView("bq_inc_cross_dropped")
    win_pairs = spark.sql(
        _inc_win_pairs_sql(
            D.SPARK, "bq_inc_brows_b", "bq_inc_g_b", "bq_inc_cross_dropped"
        )
    )
    clusters = dedup_clusters(win_pairs, id_col="doc_id")
    win_dropped = clusters.filter(
        F.col("doc_id") != F.col("cluster")
    ).select("doc_id")
    win_dropped.createOrReplaceTempView("bq_inc_win_dropped")
    return spark.sql(
        _inc_status_sql(
            "bq_inc_brows_b", "bq_inc_cross_dropped", "bq_inc_win_dropped"
        )
    )


# ---------------------------------------------------------------- SimHash


_SIMHASH_BITS = 16


def _simhash_core(engine: str, table: str) -> tuple[str, str]:
    """(cte_list, final_select) of the one corpus simhash pass — the
    single source both :func:`_simhash_sh_sql` and :func:`_simhash`'s
    ``sh_rel=None`` branch render from (r12 ADVICE: the CTE chain was
    duplicated verbatim between them, so an edit to one copy would
    silently desync the Spark staged pass from the oracle)."""
    toks = D.split_ws("lower(trim(text))", engine)
    if engine == D.DUCK:
        exploded = f"SELECT doc_id, unnest({toks}) AS tok FROM {table}"
    else:
        exploded = f"SELECT doc_id, explode({toks}) AS tok FROM {table}"
    th = D.seeded_h64("tok", 99, engine)
    votes = ", ".join(
        f"CAST(SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    ctes = f"""WITH tok AS ({exploded}),
    hashed AS (SELECT doc_id, {th} AS th FROM tok),
    bits AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)"""
    select = f"SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bits"
    return ctes, select


def _simhash_sh_sql(engine: str, table: str) -> str:
    """The one corpus pass: per-doc {bits}-bit SimHash (doc_id, simhash)."""
    ctes, select = _simhash_core(engine, table)
    return f"""{ctes}
    {select}"""


def _simhash(engine: str, table: str, sh_rel: str | None = None) -> str:
    """Explode tokens → hash once per token row → 16 conditional-SUM
    bit votes in ONE hash aggregate. Spark's higher-order array lambdas
    are interpreted (never codegen'd); the exploded formulation keeps
    the md5 and the bit votes inside whole-stage codegen with map-side
    partial aggregation — measured 1.7 s → 1.4 s at sf0.1 over the
    staged-array variant. (The same rewrite made minhash SLOWER — its
    cost is the md5/conv itself, and the explode only added row
    overhead — so minhash keeps the staged-array shape.)

    ``sh_rel`` substitutes a pre-staged (doc_id, simhash) frame (Spark
    side): sh feeds BOTH sides of the adjacent-id pair join, so under
    CTE inlining the corpus tokenize+hash+vote pass ran twice (r12 plan
    audit). The oracle keeps the one-shot WITH text (sh_rel=None)."""
    if sh_rel:
        sh_ctes = f"WITH sh AS (SELECT * FROM {sh_rel})"
    else:
        ctes, select = _simhash_core(engine, table)
        sh_ctes = f"""{ctes},
    sh AS ({select})"""
    return f"""
    {sh_ctes}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count({D.bit_xor('a.simhash', 'b.simhash', engine)}) AS INT) AS hamming
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""


@register(
    "dedup_simhash",
    _simhash(D.DUCK, "documents"),
    doc=f"training-data ext: {_SIMHASH_BITS}-bit SimHash over token hashes; "
        "Hamming distance on a bounded deterministic pair set",
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_simh_docs"
    )
    # one simhash pass, staged lazily ((doc_id, simhash) — 16 bytes/doc);
    # both sides of the adjacent-id pair join read the checkpointed frame
    sh = spark.sql(
        _simhash_sh_sql(D.SPARK, "bq_simh_docs")
    # receipt: unstaged/staged 1.10× at 10×
    # (reports/receipts/nockpt_10x_dataset_dedup.json)
    ).localCheckpoint(eager=False)
    sh.createOrReplaceTempView("bq_simh_sh")
    return spark.sql(_simhash(D.SPARK, "bq_simh_docs", sh_rel="bq_simh_sh"))


# ------------------------------------------------------- fuzzy ed≤1 join

# Deterministic corruption: delete one char (position keyed to the id)
# from each of 200 customer names, then find every (corrupted, original)
# pair within edit distance 1. The ORACLE does the naive levenshtein
# theta join (bounded 200×200 — that's the point of the oracle); the
# Spark side blocks on deletion-neighborhood variants and verifies only
# candidates (operators/text.fuzzy_join_ed1), the shape that survives a
# 100M-name corpus where the theta join is a nested-loop cliff.
_FUZZY_POS = "CAST(2 + id % 12 AS INT)"
_FUZZY_BASE = (
    "SELECT c_custkey AS id, c_name AS name FROM {table} WHERE c_custkey < 200"
)
_FUZZY_Q = (
    f"SELECT id, concat(substr(name, 1, {_FUZZY_POS} - 1), "
    f"substr(name, {_FUZZY_POS} + 1)) AS qname FROM base"
)
_FUZZY_ORACLE = f"""
WITH base AS ({_FUZZY_BASE.format(table='customer')}),
q AS ({_FUZZY_Q})
SELECT q.id AS query_id, b.id AS match_id,
       CAST(levenshtein(q.qname, b.name) AS INT) AS edit_dist
FROM q JOIN base b ON levenshtein(q.qname, b.name) <= 1"""


@register(
    "fuzzy_join_names",
    _FUZZY_ORACLE,
    doc="training-data ext: edit-distance-≤1 fuzzy join via FastSS "
        "deletion-neighborhood blocking + exact levenshtein verify "
        "(operators/text.fuzzy_join_ed1) — the relational form of the "
        "O(n·m) levenshtein theta join the oracle runs on the bounded slice",
)
def fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fuzzy_join_ed1

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("bq_fuzzy_cust")
    base = spark.sql(_FUZZY_BASE.format(table="bq_fuzzy_cust"))
    base.createOrReplaceTempView("base")
    q = spark.sql(_FUZZY_Q)
    pairs = fuzzy_join_ed1(
        q.select(F.col("id").alias("l_id"), F.col("qname").alias("l_str")),
        base.select(F.col("id").alias("r_id"), F.col("name").alias("r_str")),
    )
    return pairs.select(
        F.col("l_id").alias("query_id"),
        F.col("r_id").alias("match_id"),
        F.col("edit_dist").cast("int").alias("edit_dist"),
    )


# ------------------------------------------------ exact SSJoin (prefix filter)


def _ssjoin_oracle(table: str, n: int = 14) -> str:
    """Brute-force exact char-n-gram Jaccard over ALL pairs — feasible
    only at test SF; the Spark side must reproduce it via the prefix-
    filtered join (lossless by theorem, so the pair sets are equal).
    Shingles compared as raw strings here vs xxhash64 identities on the
    Spark side: distinct counts agree unless 64-bit hashes collide
    (~1e-10 at fixture vocabulary). n=14 since r10: the r10 accounting
    probe (RESULTS.md, Round 10) measured the saturated n=5
    tier at 1,529,321 candidates for 256 true pairs (5,974x, 12.2% of
    all-pairs, 85 s) vs 461 candidates for the SAME 256 true pairs at
    n=14 (1.8x, 6 s) — the 31-word fixture vocabulary saturates 5-gram
    space (2,041 distinct shingles, median df 291), which defeats any
    prefix-filter scheme by construction; n=14 restores the long tail
    (312k distinct, median df 2) the filter theorem assumes."""
    return f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, greatest(len(text) - {n - 1}, 1) + 1)) AS i
      FROM {table} WHERE text IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, substr(text, i, {n}) AS g FROM pos),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.s + sb.s - i) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= 0.8
    ORDER BY id_a, id_b"""


@register(
    "dedup_ssjoin_prefix",
    _ssjoin_oracle("documents"),
    bench=True,  # r11: promoted to headline (r10 verdict item 4)
    doc="training-data ext: EXACT set-similarity self-join at Jaccard "
        "≥ 0.8 via prefix filtering (SSJoin/All-Pairs class) — the "
        "no-false-negative complement to MinHash-LSH for "
        "decontamination-grade dedup. Candidates come from a "
        "rare-token-first prefix equi-join + length filter (lossless "
        "by theorem), verified by the Arrow kernel; the oracle brute-"
        "forces ALL pairs, so hash-equality proves the filters dropped "
        "nothing (operators/dedup.prefix_join_sets, jaccard metric). "
        "Shingle n=14 since r10 — the accounting probe showed n=5 "
        "saturates this fixture's vocabulary (5,974x candidate "
        "over-generation for the same 256 true pairs; see _ssjoin_oracle)",
)
def dedup_ssjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_join_sets

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return prefix_join_sets(docs, "jaccard", threshold=0.8, shingle_n=14).orderBy(
        "id_a", "id_b"
    )


def _containment_oracle(table: str, n: int = 14, thr: str = "0.8") -> str:
    """Brute-force DIRECTED containment over ALL shared-shingle pairs —
    |S_src ∩ S_dst| / |S_src| per ordered pair, no pruning; feasible only
    at test SF. The Spark side must reproduce it via the source-prefix ⋈
    full-postings join (lossless by the pigeonhole argument), so
    hash-equality proves the prefix/size/positional filters dropped no
    directed pair. Shingle n=14 (not the ssjoin's 5): the containment
    index side is FULL postings, so the saturated 5-gram fixture
    vocabulary would degenerate the candidate join far harder than the
    symmetric prefix×prefix form — n=14 is the documented de-saturation
    tier (312k distinct shingles at sf0.1, median df 2)."""
    return f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, greatest(len(text) - {n - 1}, 1) + 1)) AS i
      FROM {table} WHERE text IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, substr(text, i, {n}) AS g FROM pos),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dir AS (
      SELECT id_a AS src_id, id_b AS dst_id,
             CAST(i AS DOUBLE) / sa.s AS containment
      FROM inter JOIN sz sa ON sa.doc_id = id_a
      UNION ALL
      SELECT id_b, id_a, CAST(i AS DOUBLE) / sb.s
      FROM inter JOIN sz sb ON sb.doc_id = id_b
    )
    SELECT src_id, dst_id, containment FROM dir
    WHERE containment >= {thr}
    ORDER BY src_id, dst_id"""


@register(
    "dedup_containment",
    _containment_oracle("documents"),
    doc="training-data ext: EXACT directed set-CONTAINMENT self-join at "
        "C(src→dst) = |S_src∩S_dst|/|S_src| ≥ 0.8 over char-14-gram "
        "shingles — the asymmetric quote/subset-detection complement to "
        "dedup_ssjoin_prefix (Jaccard union-normalizes, so a short doc "
        "quoted inside a long one scores near zero; containment is the "
        "predicate inclusion-dedup needs). Source-prefix ⋈ full-postings "
        "candidates + size + positional filters, exact Arrow verify; "
        "the oracle brute-forces all shared-shingle directed pairs, so "
        "hash-equality proves the pruning lossless "
        "(operators/dedup.prefix_join_sets, containment metric)",
    bench=True,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_join_sets

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # single-file scan is ONE partition; the explode/window stages inherit
    # it (CLAUDE.md layout pitfall) — spread by key before the heavy work
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return prefix_join_sets(docs, "containment", threshold=0.8, shingle_n=14).orderBy(
        "src_id", "dst_id"
    )


def _closure_ctes(table: str, n: int = 14) -> str:
    """Shared WITH-RECURSIVE prefix: brute-force near-dup pairs (same
    SQL as `_ssjoin_oracle`) -> symmetric edges -> transitive closure
    `reach` -> `clusters` (min-reachable-id labels). Used by the
    components oracle and the split-leakage oracle; feasible because
    the near-dup GRAPH is tiny even when the corpus isn't."""
    return f"""
    WITH RECURSIVE pos AS (
      SELECT doc_id, text, unnest(range(1, greatest(len(text) - {n - 1}, 1) + 1)) AS i
      FROM {table} WHERE text IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, substr(text, i, {n}) AS g FROM pos),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= 0.8
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    clusters AS (
      SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
    )"""


def _components_oracle(table: str, n: int = 14) -> str:
    """Transitive closure via WITH RECURSIVE over the same brute-force
    near-dup pair SQL as `_ssjoin_oracle` — DuckDB can express the
    component collapse declaratively (Spark SQL has no recursive CTE,
    which is exactly why the Spark side is the iterative min-label
    operator). Shingle n=14 since r10 (same de-saturation as
    `_ssjoin_oracle`; same 256-edge pair graph)."""
    return (
        _closure_ctes(table, n)
        + "\n    SELECT doc_id, cluster FROM clusters ORDER BY doc_id"
    )


@register(
    "dedup_components",
    _components_oracle("documents"),
    doc="training-data ext: connected-component collapse of the exact "
        "near-dup pair graph (pairs from operators/dedup.prefix_join_sets, "
        "jaccard metric; operators/dedup.dedup_clusters — the "
        "collapse every dedup chain ends with: driver-side union-find "
        "up to SMALL_GRAPH_CAP verified pairs, iterative min-label "
        "propagation past it) pinned against a DECLARATIVE oracle: "
        "DuckDB's WITH RECURSIVE transitive closure over the same "
        "brute-force pair SQL. Hash-equality proves the collapse "
        "computes true components, upgrading it from rows-only to "
        "oracle-backed",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters, prefix_join_sets

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pairs = prefix_join_sets(docs, "jaccard", threshold=0.8, shingle_n=14)
    return dedup_clusters(pairs, id_col="doc_id").orderBy("doc_id")


def _split_leakage_oracle(table: str, n: int = 14) -> str:
    """Near-dup clusters spanning train/val/test: the closure CTEs plus
    the `dataset_split_assign` hash rule (same seed, same 80/10/10
    buckets). `docs_to_move` = docs whose split differs from their
    cluster's canonical split (the min-id member's — moving exactly
    those docs makes every cluster split-pure)."""
    from .dataset_ops import _SPLIT_SEED

    h = D.seeded_h64("CAST(doc_id AS STRING)", _SPLIT_SEED, D.DUCK)
    return (
        _closure_ctes(table, n)
        + f""",
    sp AS (
      SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, ({h}) % 100 AS bucket
            FROM {table} WHERE text IS NOT NULL) hashed
    ),
    cs AS (SELECT c.cluster, c.doc_id, sp.split
           FROM clusters c JOIN sp ON sp.doc_id = c.doc_id),
    canon AS (SELECT cluster, split AS canon_split FROM cs
              WHERE doc_id = cluster),
    agg AS (SELECT cluster, COUNT(DISTINCT split) AS n_splits,
                   COUNT(*) AS n_docs
            FROM cs GROUP BY cluster),
    mv AS (SELECT CAST(COUNT(*) AS BIGINT) AS moves
           FROM cs JOIN canon ON canon.cluster = cs.cluster
           WHERE cs.split <> canon.canon_split)
    SELECT CAST(COUNT(*) AS BIGINT) AS clusters_total,
           CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS clusters_leaked,
           CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
             AS docs_in_leaked,
           (SELECT moves FROM mv) AS docs_to_move
    FROM agg"""
    )


@register(
    "dataset_split_leakage",
    _split_leakage_oracle("documents"),
    doc="training-data ext: DEDUP-AWARE SPLIT CONTAMINATION check — "
        "near-dup clusters (exact SSJoin pairs from "
        "operators/dedup.prefix_join_sets -> connected components) "
        "joined against the deterministic dataset_split_assign 80/10/10 "
        "hash: a cluster spanning splits leaks train content into "
        "val/test (the contamination a doc-level random split always "
        "produces; the fix is splitting BY CLUSTER). Reports clusters "
        "total/leaked, docs in leaked clusters, and docs_to_move (docs "
        "whose split differs from their cluster's canonical min-id "
        "member — moving exactly those makes every cluster split-pure). "
        "Oracle replays the whole chain declaratively (recursive-CTE "
        "closure + the same seeded hash rule). Standalone cost is the "
        "full pair-graph chain (~ssjoin + components, ~12 s at sf0.1); "
        "a production pipeline materializes cluster labels once and "
        "this check is then one join + two aggregates over them",
)
def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters, prefix_join_sets
    from .dataset_ops import _SPLIT_SEED

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pairs = prefix_join_sets(docs, "jaccard", threshold=0.8, shingle_n=14)
    clusters = dedup_clusters(pairs, id_col="doc_id")
    h = D.seeded_h64("CAST(doc_id AS STRING)", _SPLIT_SEED, D.SPARK)
    sp = docs.select(
        "doc_id", F.expr(f"({h}) % 100").alias("bucket")
    ).select(
        "doc_id",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    cs = clusters.join(sp, "doc_id")
    canon = cs.filter(F.col("doc_id") == F.col("cluster")).select(
        "cluster", F.col("split").alias("canon_split")
    )
    agg = cs.groupBy("cluster").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count("*").alias("n_docs"),
    )
    moves = (
        cs.join(canon, "cluster")
        .filter(F.col("split") != F.col("canon_split"))
        .agg(F.count("*").cast("bigint").alias("docs_to_move"))
    )
    return (
        agg.agg(
            F.count("*").cast("bigint").alias("clusters_total"),
            F.sum((F.col("n_splits") > 1).cast("bigint")).alias("clusters_leaked"),
            F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0))
            .cast("bigint")
            .alias("docs_in_leaked"),
        )
        .crossJoin(moves)
    )


def _split_by_cluster_oracle(table: str, n: int = 14) -> str:
    """Remediation twin of `_split_leakage_oracle`: assign the 80/10/10
    split at CLUSTER granularity (seeded h64 of the cluster label, so
    every member inherits its cluster's split — leakage is zero by
    construction) and report, per split, cluster/doc counts plus how
    many docs MOVED relative to the naive doc-level hash rule.
    Singletons label as their own doc_id, so their split equals the
    naive one and they never move."""
    from .dataset_ops import _SPLIT_SEED

    h_lab = D.seeded_h64("CAST(label AS STRING)", _SPLIT_SEED, D.DUCK)
    h_doc = D.seeded_h64("CAST(doc_id AS STRING)", _SPLIT_SEED, D.DUCK)
    return (
        _closure_ctes(table, n)
        + f""",
    alld AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS label
      FROM (SELECT doc_id FROM {table} WHERE text IS NOT NULL) d
      LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    asg AS (
      SELECT doc_id, label,
             CASE WHEN ({h_lab}) % 100 < 80 THEN 'train'
                  WHEN ({h_lab}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN ({h_doc}) % 100 < 80 THEN 'train'
                  WHEN ({h_doc}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS doc_split
      FROM alld
    )
    SELECT split,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS clusters,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN split <> doc_split THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_moved
    FROM asg GROUP BY split ORDER BY split"""
    )


@register(
    "dataset_split_by_cluster",
    _split_by_cluster_oracle("documents"),
    doc="training-data ext: the REMEDIATION for dataset_split_leakage — "
        "80/10/10 split assigned at near-dup-CLUSTER granularity "
        "(prefix_join_sets pairs -> dedup_clusters; seeded h64 of the "
        "cluster label; every member inherits its "
        "cluster's split, so leakage is zero by construction; "
        "singletons label as themselves). Reports per-split cluster/"
        "doc counts and docs moved vs the naive doc-level hash rule. "
        "Detection + remediation close the dedup-aware-split story",
)
def dataset_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters, prefix_join_sets
    from .dataset_ops import _SPLIT_SEED

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pairs = prefix_join_sets(docs, "jaccard", threshold=0.8, shingle_n=14)
    clusters = dedup_clusters(pairs, id_col="doc_id")
    alld = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", "doc_id").alias("label")
    )
    h_lab = D.seeded_h64("CAST(label AS STRING)", _SPLIT_SEED, D.SPARK)
    h_doc = D.seeded_h64("CAST(doc_id AS STRING)", _SPLIT_SEED, D.SPARK)

    def rule(h: str):
        b = F.expr(f"({h}) % 100")
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    asg = alld.select(
        "doc_id", "label", rule(h_lab).alias("split"), rule(h_doc).alias("doc_split")
    )
    return (
        asg.groupBy("split")
        .agg(
            F.countDistinct("label").cast("bigint").alias("clusters"),
            F.count("*").cast("bigint").alias("docs"),
            F.sum((F.col("split") != F.col("doc_split")).cast("bigint"))
            .alias("docs_moved"),
        )
        .orderBy("split")
    )


def _cluster_canonical_oracle(table: str, n: int = 14) -> str:
    """End-to-end removal counts over a PLANTED-dup corpus: the
    `_components_oracle` recursive closure extended with the canonical
    (min-id) collapse. The corpus plants an exact copy AND a one-token
    append of every base doc (doc_id < 50), so clusters of size ≥ 3
    exist and transitive chaining matters; the corpus is bounded to
    doc_id < 2500 at every SF so the brute-force pair CTE stays
    fixture-feasible (the operators are scale-probed separately —
    500k docs, RESULTS.md). Shingle n=14 since r10, same de-saturation
    as `_ssjoin_oracle` (an exact copy is jaccard 1.0 at any n; the
    one-token append changes ~n+7 trailing shingles of a 300+-shingle
    doc, jaccard ~0.95 — both stay >= 0.8, so the planted clusters and
    removal counts are unchanged)."""
    return f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM {table}
      WHERE text IS NOT NULL AND doc_id < 2500
      UNION ALL
      SELECT doc_id + 1000000, text FROM {table}
      WHERE text IS NOT NULL AND doc_id < 50
      UNION ALL
      SELECT doc_id + 2000000, concat(text, ' zzextra') FROM {table}
      WHERE text IS NOT NULL AND doc_id < 50
    ),
    pos AS (
      SELECT doc_id, text, unnest(range(1, greatest(len(text) - {n - 1}, 1) + 1)) AS i
      FROM corpus
    ),
    sh AS (SELECT DISTINCT doc_id, substr(text, i, {n}) AS g FROM pos),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= 0.8
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    dropped AS (
      SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) <> src
    )
    SELECT (SELECT COUNT(*) FROM corpus) AS docs_in,
           (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM dropped)
             AS docs_kept,
           (SELECT COUNT(*) FROM dropped) AS docs_removed"""


@register(
    "dedup_cluster_canonical",
    _cluster_canonical_oracle("documents"),
    doc="training-data ext: near-dup REMOVAL end-to-end — exact pair "
        "graph (lossless prefix-filtered SSJoin, "
        "operators/dedup.prefix_join_sets) → connected components "
        "(operators/dedup.dedup_clusters) → collapse each cluster to its "
        "canonical min-id member (keep_canonical); returns corpus size "
        "before/after. Oracle-backed since r7 (was rows-only): DuckDB "
        "replays the whole chain declaratively — recursive-CTE closure "
        "over the brute-force pair SQL plus the min-id collapse — over "
        "the SAME planted-dup corpus (exact copy + one-token append of "
        "every base doc), so hash-equality pins the removal COUNTS, not "
        "just cluster labels",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import keep_canonical, prefix_join_sets

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 2500))
    )
    base = docs.filter(F.col("doc_id") < 50)
    corpus = (
        docs.unionByName(base.withColumn("doc_id", F.col("doc_id") + 1_000_000))
        .unionByName(
            base.withColumn("doc_id", F.col("doc_id") + 2_000_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zzextra")))
        )
    )
    # single-file scan is ONE partition; spread before the shingle explode
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pairs = prefix_join_sets(corpus, "jaccard", threshold=0.8, shingle_n=14)
    kept = keep_canonical(corpus, pairs)
    return (
        corpus.agg(F.count("*").alias("docs_in"))
        .crossJoin(kept.agg(F.count("*").alias("docs_kept")))
        .select(
            "docs_in",
            "docs_kept",
            (F.col("docs_in") - F.col("docs_kept")).alias("docs_removed"),
        )
    )
