"""Similarity-search operators over the embeddings table (training-data
pipeline extensions): brute-force cosine top-k and embedding near-dup.

Scale notes: at 100 TB the brute-force path is a broadcast of the (small)
query set against a partitioned candidate scan — no shuffle until the
per-query top-k (TakeOrderedAndProject per group via window). The dot
products run as JVM array expressions inside whole-stage codegen; an
IVF/LSH-bucketed variant lives in operators/similarity.py. Here the
arithmetic is a sequential left-fold in BOTH engines so float
accumulation is order-identical; cosine is rounded to 6 decimals as a
safety margin with deterministic id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import dialect as D
from .registry import register

_DIM = 64
_N_QUERIES = 5
_TOP_K = 10


def _dot(a: str, b: str, engine: str) -> str:
    prods = D.transform(
        D.iseq("1", str(_DIM), engine),
        f"i -> CAST({D.at(a, 'i', engine)} AS DOUBLE) * CAST({D.at(b, 'i', engine)} AS DOUBLE)",
        engine,
    )
    return D.fold_sum_double(prods, engine)


def _knn(engine: str, table: str) -> str:
    dot = _dot("q.embedding", "c.embedding", engine)
    qnorm = _dot("q.embedding", "q.embedding", engine)
    cnorm = _dot("c.embedding", "c.embedding", engine)
    # the <>-only join is a nested loop by nature: pin the BOUNDED query
    # side as the build side (Spark's static size estimate picked the
    # CORPUS side at sf0.01 — caught by test_bnlj_build_sides_stay_bounded;
    # a corpus-side broadcast is the OOM path at scale)
    hint = "/*+ BROADCAST(q) */ " if engine == D.SPARK else ""
    return f"""
    WITH scored AS (
      SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({dot} / (sqrt({qnorm}) * sqrt({cnorm})), 6) AS cos_sim
      FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, CAST(cos_sim AS DOUBLE) AS cos_sim,
           CAST(rn AS INT) AS rn FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored) t
    WHERE rn <= {_TOP_K}"""


@register(
    "similarity_knn_bruteforce",
    _knn(D.DUCK, "embeddings"),
    doc="training-data ext: brute-force cosine top-k ANN baseline "
        f"({_N_QUERIES} query vectors × corpus, k={_TOP_K}); order-identical "
        "sequential-fold dot products + rounded tie-broken ranking",
    bench=True,
)
def similarity_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("bq_knn_emb")
    return spark.sql(_knn(D.SPARK, "bq_knn_emb"))


# ------------------------------------- triplet mining (semi-hard negs)

_TRIP_ANCHORS = 10
_TRIP_K_NEG = 5
_TRIP_MARGIN_FP = 50_000  # 0.05 cosine in fp6


def _triplet_scored_sql(engine: str, table: str) -> str:
    """The one corpus pass: bounded anchor side × corpus fp6 cosines."""
    dot = _dot("q.embedding", "c.embedding", engine)
    qn = _dot("q.embedding", "q.embedding", engine)
    cn = _dot("c.embedding", "c.embedding", engine)
    hint = "/*+ BROADCAST(q) */ " if engine == D.SPARK else ""
    fp = (
        f"CAST(FLOOR(round({dot} / (sqrt({qn}) * sqrt({cn})), 6)"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""SELECT {hint}q.vec_id AS a, c.vec_id AS b,
             q.label AS la, c.label AS lb, {fp} AS cos_fp
      FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_TRIP_ANCHORS}"""


def _triplet_sql(engine: str, table: str) -> str:
    """Per anchor: hardest positive (max same-label cosine) and top-k
    hardest different-label negatives, each flagged semi-hard per the
    FaceNet criterion cos_pos − margin ≤ cos_neg < cos_pos. Cosines are
    fp6 integers (round-6 + snap, the proven knn idiom) so every
    comparison and the margin test are exact cross-engine."""
    return f"""
    WITH scored AS (
      {_triplet_scored_sql(engine, table)}
    ),
    pos AS (SELECT a, CAST(MAX(cos_fp) AS BIGINT) AS pos_fp
            FROM scored WHERE la = lb GROUP BY a),
    neg AS (SELECT a, b, cos_fp,
                   CAST(ROW_NUMBER() OVER (PARTITION BY a
                        ORDER BY cos_fp DESC, b) AS BIGINT) AS neg_rank
            FROM scored WHERE la <> lb)
    SELECT n.a AS anchor_id, n.b AS negative_id, n.neg_rank,
           CAST(n.cos_fp AS DOUBLE) / 1000000.0 AS cos_neg,
           CAST(p.pos_fp AS DOUBLE) / 1000000.0 AS cos_pos,
           (n.cos_fp < p.pos_fp
            AND n.cos_fp >= p.pos_fp - {_TRIP_MARGIN_FP}) AS semi_hard
    FROM neg n JOIN pos p ON p.a = n.a
    WHERE n.neg_rank <= {_TRIP_K_NEG}
    ORDER BY anchor_id, neg_rank"""


@register(
    "similarity_triplet_mining",
    _triplet_sql(D.DUCK, "embeddings"),
    doc="training-data ext: triplet mining for contrastive training — "
        "per anchor, the hardest same-label positive and the top-5 "
        "hardest different-label negatives, each flagged semi-hard per "
        "the FaceNet criterion (cos_pos − 0.05 ≤ cos_neg < cos_pos). "
        "fp6 integer cosines make the margin test exact cross-engine; "
        "bounded 10-anchor side broadcast over one corpus scan (knn "
        "shape), per-anchor partial top-k before the final shuffle",
)
def similarity_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "bq_trip_emb"
    )
    # one-shot WITH deliberately (r12 staging REVERTED r13): measured
    # 0.96× at the 100× salted tier and flat at fixture — the pos/neg
    # consumers' window exchanges runtime-reuse the scored subtree, so
    # the checkpoint's job boundary is pure overhead
    # (bench_r13_scale_receipts.py).
    # That ratio came from a no-op patch: both arms ran the staged code,
    # so it is noise (OPTIMIZATION_r13 §5 annotation).
    return spark.sql(_triplet_sql(D.SPARK, "bq_trip_emb"))


# ------------------------------------------- MMR diversified selection

_MMR_PROBES = (0, 1, 2)
_MMR_K_CAND = 25
_MMR_K_SEL = 8
_MMR_LNUM, _MMR_LDEN = 7, 10  # lambda = 0.7 in exact tenths
_MMR_MU = _MMR_LDEN - _MMR_LNUM


def _mmr_fp6(cos_expr: str) -> str:
    """round-6 cosine → fixed-point micro-units (both steps are proven
    cross-engine-identical idioms: round(,6) from the knn query, the
    FLOOR(x·1e6+0.5) snap from the BM25 family)."""
    return f"CAST(FLOOR({cos_expr} * 1000000.0 + 0.5) AS BIGINT)"


def _mmr_cand_sql(engine: str, table: str) -> str:
    """Per-probe top-k_cand candidates by embedding cosine (the knn
    shape: bounded probe side is the build side BY DESIGN)."""
    dot = _dot("q.embedding", "c.embedding", engine)
    qn = _dot("q.embedding", "q.embedding", engine)
    cn = _dot("c.embedding", "c.embedding", engine)
    hint = "/*+ BROADCAST(q) */ " if engine == D.SPARK else ""
    probes = ", ".join(str(p) for p in _MMR_PROBES)
    fp = _mmr_fp6(f"round({dot} / (sqrt({qn}) * sqrt({cn})), 6)")
    return f"""
    SELECT query_id, cand_id, sim_fp AS rel_fp FROM (
      SELECT query_id, cand_id, sim_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim_fp DESC, cand_id) AS rn
      FROM (SELECT {hint}q.vec_id AS query_id, c.vec_id AS cand_id,
                   {fp} AS sim_fp
            FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
            WHERE q.vec_id IN ({probes})) s) t
    WHERE rn <= {_MMR_K_CAND}"""


def _mmr_pairs_sql(engine: str, cand_rel: str, table: str) -> str:
    """Pairwise cosines among the SAME probe's candidates (complete
    directed graph, O(|probes|·k_cand²) rows — bounded by design)."""
    dot = _dot("a.embedding", "b.embedding", engine)
    an = _dot("a.embedding", "a.embedding", engine)
    bn = _dot("b.embedding", "b.embedding", engine)
    fp = _mmr_fp6(f"round({dot} / (sqrt({an}) * sqrt({bn})), 6)")
    attach = (
        f"SELECT c.query_id, c.cand_id, e.embedding FROM {cand_rel} c "
        f"JOIN {table} e ON e.vec_id = c.cand_id"
    )
    return f"""
    SELECT a.query_id, a.cand_id AS d, b.cand_id AS other, {fp} AS sim_fp
    FROM ({attach}) a JOIN ({attach}) b
      ON b.query_id = a.query_id AND b.cand_id <> a.cand_id"""


def _mmr_oracle() -> str:
    """Declarative DuckDB replay of the exact-integer MMR greedy: one
    materialized CTE level per selection step (each level references the
    previous THREE times — carry + max-sim join + NOT EXISTS — so AS
    MATERIALIZED is mandatory against the exponential-inline class, the
    r10 SSSP lesson; oracle-only text, the Spark side is the operator).
    NOT EXISTS (not NOT IN) per the null-aware-anti-join rule."""
    lnum, mu = _MMR_LNUM, _MMR_MU
    levels = [
        f"""sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, CAST(1 AS BIGINT) AS sel_rank,
         CAST({lnum} AS BIGINT) * rel_fp AS score_fp
  FROM (SELECT query_id, cand_id, rel_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel_fp DESC, cand_id) AS rn
        FROM mmr_cand) t1 WHERE rn = 1)"""
    ]
    for i in range(2, _MMR_K_SEL + 1):
        score = (
            f"CAST({lnum} AS BIGINT) * r.rel_fp"
            f" - CAST({mu} AS BIGINT) * m.mx"
        )
        levels.append(
            f"""sel{i} AS MATERIALIZED (
  SELECT * FROM sel{i - 1}
  UNION ALL
  SELECT query_id, cand_id, CAST({i} AS BIGINT) AS sel_rank, score_fp FROM (
    SELECT r.query_id, r.cand_id, {score} AS score_fp,
           ROW_NUMBER() OVER (PARTITION BY r.query_id
                              ORDER BY {score} DESC, r.cand_id) AS rn
    FROM mmr_cand r
    JOIN (SELECT p.query_id, p.d AS cand_id, MAX(p.sim_fp) AS mx
          FROM mmr_pairs p
          JOIN sel{i - 1} s ON s.query_id = p.query_id
                           AND s.cand_id = p.other
          GROUP BY p.query_id, p.d) m
      ON m.query_id = r.query_id AND m.cand_id = r.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} s2
                      WHERE s2.query_id = r.query_id
                        AND s2.cand_id = r.cand_id)
  ) t{i} WHERE rn = 1)"""
        )
    cand = _mmr_cand_sql(D.DUCK, "embeddings")
    pairs = _mmr_pairs_sql(D.DUCK, "mmr_cand", "embeddings")
    chain = ",\n".join(levels)
    return f"""
    WITH mmr_cand AS MATERIALIZED ({cand}),
    mmr_pairs AS MATERIALIZED ({pairs}),
    {chain}
    SELECT query_id, sel_rank, cand_id,
           CAST(score_fp AS DOUBLE) / CAST(10000000 AS DOUBLE) AS mmr_score
    FROM sel{_MMR_K_SEL}
    ORDER BY query_id, sel_rank"""


@register(
    "similarity_mmr_select",
    _mmr_oracle(),
    doc="training-data ext: maximal-marginal-relevance diversified "
        "selection (Carbonell & Goldstein 1998) — per probe, greedily "
        "pick k=8 of the top-25 cosine candidates maximizing "
        "0.7·relevance − 0.3·max-sim-to-already-selected (exact tenths "
        "over fp6 cosines, all-integer scores → deterministic, "
        "bit-identical cross-engine). Distributed corpus scoring down "
        "to bounded per-probe lists; the inherently-sequential greedy "
        "runs on O(|probes|·25²) collected rows (documented bounded "
        "driver state, operators/similarity.mmr_select_from_scores); "
        "the oracle replays the greedy as chained materialized CTEs",
)
def similarity_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_select_from_scores

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "bq_mmr_emb"
    )
    # cand fans into pairs (×2) + the operator's rel collect — lazy
    # checkpoint against the CTE-inlining recompute class
    # receipt: unstaged/staged 1.46× at 10×
    # (reports/receipts/nockpt_10x_graph_search_sketch.json)
    cand = spark.sql(_mmr_cand_sql(D.SPARK, "bq_mmr_emb")).localCheckpoint(
        eager=False
    )
    cand.createOrReplaceTempView("bq_mmr_cand")
    pairs = spark.sql(_mmr_pairs_sql(D.SPARK, "bq_mmr_cand", "bq_mmr_emb"))
    return mmr_select_from_scores(
        spark,
        cand,
        pairs,
        k_sel=_MMR_K_SEL,
        lam_num=_MMR_LNUM,
        lam_den=_MMR_LDEN,
    )


def _norm_buckets(engine: str, table: str) -> str:
    """LSH-flavored bucketing surface: random-hyperplane signs are the real
    LSH; the oracle-checked stand-in buckets by norm decile + first-component
    sign, which exercises the same bucket-then-join plumbing."""
    norm = f"sqrt({_dot('e.embedding', 'e.embedding', engine)})"
    first = f"CAST({D.at('e.embedding', '1', engine)} AS DOUBLE)"
    return f"""
    SELECT CAST(floor({norm}) AS BIGINT) AS norm_bucket,
           CASE WHEN {first} >= 0 THEN 1 ELSE 0 END AS sign_first,
           COUNT(*) AS cnt, label_card
    FROM {table} e
    CROSS JOIN (SELECT COUNT(DISTINCT label) AS label_card FROM {table}) lc
    GROUP BY 1, 2, label_card"""


@register(
    "similarity_norm_buckets",
    _norm_buckets(D.DUCK, "embeddings"),
    doc="training-data ext: embedding bucketing summary (norm decile × "
        "first-component sign) — the bucket-join skeleton of LSH ANN",
)
def similarity_norm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("bq_nb_emb")
    return spark.sql(_norm_buckets(D.SPARK, "bq_nb_emb"))


# ------------------------------------------------------------ centroids


def _centroids(engine: str, table: str) -> str:
    """Per-label per-dimension centroid. Float sums are accumulation-order-
    dependent, so the mean is computed over fixed-point scaled ints:
    float→double cast is exact, ×1e6 and FLOOR are identical IEEE ops in
    both engines, and the BIGINT sum is associative — deterministic under
    any partitioning (same rule as functions/compat.py's decimal sums)."""
    if engine == D.DUCK:
        src = (
            f"SELECT e.label, p.pos AS pos, CAST(e.embedding[p.pos] AS DOUBLE) AS val "
            f"FROM {table} e CROSS JOIN generate_series(1, {_DIM}) p(pos)"
        )
    else:
        src = (
            "SELECT label, pos + 1 AS pos, CAST(val AS DOUBLE) AS val "
            f"FROM (SELECT label, posexplode(embedding) AS (pos, val) FROM {table})"
        )
    fp = "CAST(FLOOR(val * 1e6) AS BIGINT)"
    return f"""
    SELECT CAST(label AS INT) AS label, CAST(pos AS INT) AS pos,
           COUNT(*) AS cnt,
           CAST(SUM({fp}) AS BIGINT) AS sum_fp6,
           CAST(SUM({fp}) AS DOUBLE) / (1e6 * COUNT(*)) AS mean_fp6
    FROM ({src}) x GROUP BY label, pos"""


@register(
    "embedding_centroids",
    _centroids(D.DUCK, "embeddings"),
    doc="training-data ext: per-label embedding centroids (the KMeans "
        "update step / class prototypes) via posexplode + fixed-point "
        "BIGINT sums — order-independent exact aggregation over floats, "
        "one shuffle on (label, pos) with map-side combine",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("bq_cent_emb")
    return spark.sql(_centroids(D.SPARK, "bq_cent_emb"))


# ---------------------------------------------------- embedding drift


def _embedding_drift(engine: str, table: str, thr_fp2: int = 1) -> str:
    """Per-dimension embedding-space drift between a reference cohort
    (even vec_id) and a candidate cohort (odd vec_id) — the monitor a
    pipeline runs when an embedding model or upstream corpus changes
    (PSI/KS cover scalar features; this covers the vector column).
    Same fixed-point discipline as `_centroids`: per-dim BIGINT fp6
    sums, so the drift GATE is a pure integer comparison — with
    Δ = (s_r·n_c − s_c·n_r) / (10^6·n_r·n_c), |Δ| > thr_fp2/100 ⟺
    |s_r·n_c − s_c·n_r| > thr_fp2·10^4·n_r·n_c — and the reported
    means divide exact integers. The gate's cross-products run in
    DECIMAL(38,0) (r10 ADVICE 1): s ≈ n·1e6·|mean|, so at ~5e6 vectors
    per cohort s·n exceeds 2^63 and a BIGINT product would abort under
    ANSI/DuckDB overflow; DECIMAL(38,0) keeps the comparison exact to
    1e38 with identical results on non-overflowing inputs."""
    if engine == D.DUCK:
        src = (
            f"SELECT e.vec_id, p.pos AS pos, CAST(e.embedding[p.pos] AS DOUBLE) AS val "
            f"FROM {table} e CROSS JOIN generate_series(1, {_DIM}) p(pos)"
        )
    else:
        src = (
            "SELECT vec_id, pos + 1 AS pos, CAST(val AS DOUBLE) AS val "
            f"FROM (SELECT vec_id, posexplode(embedding) AS (pos, val) FROM {table})"
        )
    fp = "CAST(FLOOR(val * 1e6) AS BIGINT)"
    return f"""
    WITH dims AS (
      SELECT CAST(pos AS INT) AS pos,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN {fp} ELSE 0 END) AS BIGINT) AS s_ref,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN {fp} ELSE 0 END) AS BIGINT) AS s_cand
      FROM ({src}) x GROUP BY pos
    )
    SELECT pos, n_ref, n_cand,
           CAST(s_ref AS DOUBLE) / (1e6 * n_ref) AS mean_ref,
           CAST(s_cand AS DOUBLE) / (1e6 * n_cand) AS mean_cand,
           CAST(s_ref AS DOUBLE) / (1e6 * n_ref)
             - CAST(s_cand AS DOUBLE) / (1e6 * n_cand) AS mean_diff,
           CAST(CASE WHEN ABS(CAST(s_ref AS DECIMAL(38,0)) * n_cand
                              - CAST(s_cand AS DECIMAL(38,0)) * n_ref)
                          > CAST({thr_fp2} AS DECIMAL(38,0)) * 10000 * n_ref * n_cand
                     THEN 1 ELSE 0 END AS INT) AS drifted
    FROM dims ORDER BY pos"""


@register(
    "embedding_drift_monitor",
    _embedding_drift(D.DUCK, "embeddings"),
    doc="training-data ext: per-dimension embedding-space drift monitor "
        "between even/odd vec_id cohorts — the vector-column analogue "
        "of drift_psi_value (a model/corpus change shows up as "
        "per-dimension mean shift before anything downstream does). "
        "Fixed-point BIGINT sums per (cohort, dim); the drift gate is "
        "an exact integer cross-product comparison, means divide exact "
        "integers. One posexplode pass, map-side combine, 64-row output",
)
def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("bq_drift_emb")
    return spark.sql(_embedding_drift(D.SPARK, "bq_drift_emb"))
