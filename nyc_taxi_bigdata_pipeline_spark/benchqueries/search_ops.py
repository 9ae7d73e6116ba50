"""Term-based retrieval + sequence-aware LM scoring over `documents`
(training-data extensions): BM25 top-k search and bigram-LM quality
scores. Both hash-match DuckDB bit-exactly via the fixed-point
discipline (see operators/search.py and operators/text.py docstrings —
every float is a single IEEE op on exact-integer-derived ratios,
snapped to micro-units before any aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import dialect as D
from .registry import register

# three fixed queries over the synthetic systems-vocabulary corpus;
# 'strategy' / 'pushdown' are deliberately OUT-of-vocabulary terms (df=0
# contributes no postings — the real-query shape), but each query keeps
# at least two in-vocabulary terms so every query returns a full top-k
_BM25_QUERIES = [
    (1, "hash join strategy"),
    (2, "columnar scan filter pushdown"),
    (3, "sort merge window stream"),
]
_BM25_K = 10


def _bm25_sql(engine: str, table: str) -> str:
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    qrows = sorted(
        {(qid, t) for qid, text in _BM25_QUERIES for t in text.lower().split()}
    )
    values = ", ".join(f"({qid}, '{t}')" for qid, t in qrows)
    return f"""
    WITH toks AS (SELECT doc_id, {unnest} AS tok FROM {table}
                  WHERE text IS NOT NULL),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt
          FROM dl),
    q AS (SELECT * FROM (VALUES {values}) AS v(query_id, tok)),
    s AS (SELECT q.query_id, tf.doc_id,
                 CAST(FLOOR(LN(1.0 + CAST(2 * (n.nd - dfreq.df) + 1 AS DOUBLE)
                                     / CAST(2 * dfreq.df + 1 AS DOUBLE))
                            * (CAST(22 * tf.tf * n.tt AS DOUBLE)
                               / CAST(10 * tf.tf * n.tt + 3 * n.tt
                                      + 9 * dl.dl * n.nd AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS fp
          FROM tf JOIN q ON tf.tok = q.tok
                  JOIN dfreq ON tf.tok = dfreq.tok
                  JOIN dl ON tf.doc_id = dl.doc_id
                  CROSS JOIN n),
    per_doc AS (SELECT query_id, doc_id, CAST(SUM(fp) AS BIGINT) AS fp_score
                FROM s GROUP BY query_id, doc_id),
    ranked AS (SELECT query_id, doc_id, fp_score,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY fp_score DESC, doc_id) AS BIGINT) AS rank
               FROM per_doc)
    SELECT query_id, doc_id,
           CAST(fp_score AS DOUBLE) / 1000000.0 AS score, rank
    FROM ranked WHERE rank <= {_BM25_K}
    ORDER BY query_id, rank"""


@register(
    "text_bm25_topk",
    _bm25_sql(D.DUCK, "documents"),
    doc="training-data ext: BM25 (Okapi, Lucene positive IDF; k1=1.2 "
        "b=0.75) top-10 docs for 3 fixed term queries — curation-time "
        "term retrieval (decontamination lookups, relevance filtering) "
        "beside the embedding ANN family. Per-term score is "
        "ln(int-ratio)·int-ratio snapped to fixed-point micro-units, "
        "per-doc SUM exact-integer, so the oracle hash-matches; scoring "
        "touches only the query terms' postings via a broadcast "
        "semi-join, never the corpus (operators/search.py)",
    bench=True,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    # NO input repartition here, measured: BM25's per-row work (one
    # tokenize explode) is light enough that the extra exchange costs
    # more than the 1-partition scan does at bench SF (1.78 -> 2.98 s);
    # contrast text_bigram_logprob, whose position explode justifies it
    return bm25_topk(spark, docs, _BM25_QUERIES, k=_BM25_K).orderBy(
        "query_id", "rank"
    )


def _bigram_lm_sql(engine: str, table: str) -> str:
    toks_arr = D.split_ws("lower(trim(text))", engine)
    unnest = D.unnest_col("__t", engine)
    alen = D.alen("__t", engine)
    seq = D.iseq("1", f"greatest({alen} - 1, 1)", engine)
    pos = D.unnest_col(D.arr_filter(seq, f"i -> i + 1 <= {alen}", engine), engine)
    w1 = D.at("__t", "__i", engine)
    w2 = D.at("__t", "__i + 1", engine)
    return f"""
    WITH t AS (SELECT doc_id, {toks_arr} AS __t FROM {table}
               WHERE text IS NOT NULL),
    toks AS (SELECT doc_id, {unnest} AS tok FROM t),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY tok),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    p AS (SELECT doc_id, __t, {pos} AS __i FROM t),
    bg AS (SELECT doc_id, {w1} AS w1, {w2} AS w2 FROM p),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY w1, w2),
    fp AS (SELECT bg.doc_id,
                  CAST(FLOOR(LN(CAST(c2.c2 + 1 AS DOUBLE)
                                / CAST(uni.c1 + vocab.v AS DOUBLE))
                             * 1000000.0 + 0.5) AS BIGINT) AS fp_log
           FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                   JOIN uni ON bg.w1 = uni.tok
                   CROSS JOIN vocab),
    per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                       SUM(fp_log) AS fp_sum
                FROM fp GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           CAST(fp_sum AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1000000.0)
             AS avg_logprob,
           fp_sum < -9000000 * n_bigrams AS low_quality
    FROM per_doc ORDER BY doc_id"""


@register(
    "text_bigram_logprob",
    _bigram_lm_sql(D.DUCK, "documents"),
    doc="training-data ext: bigram-LM quality score — avg conditional "
        "ln P(w_i|w_{i-1}) under the corpus's own add-one bigram model "
        "(penalizes improbable TOKEN ORDER where the unigram score "
        "can't); micro-nat fixed-point per bigram, exact-integer doc "
        "SUM, one final division (operators/text.py:"
        "bigram_logprob_features)",
    bench=True,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_logprob_features

    docs = load_table(spark, sf_dir, "documents")
    # 16.4 -> 2.8 s at sf0.1: bigram-position explodes inherited the
    # 1-partition single-file scan layout (working-notes pitfall)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return bigram_logprob_features(docs, id_col="doc_id", col="text").orderBy(
        "doc_id"
    )


# ------------------------------------------------------ TF-IDF cosine

_TFIDF_TF_SQL_T = """
SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
FROM (SELECT doc_id, {unnest} AS tok FROM {table} WHERE text IS NOT NULL) t
GROUP BY doc_id, tok"""


def _tfidf_tf_sql(engine: str, table: str) -> str:
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return _TFIDF_TF_SQL_T.format(unnest=unnest, table=table)


def _tfidf_read_sql(tf_rel: str, w_rel: str | None = None) -> str:
    """Cosine of tf·idf vectors over the bounded adjacent-id pair set.
    Weights are EXACT INTEGERS: tf · idf_milli where idf_milli =
    FLOOR((LN(N) − LN(df)) · 1e3 + 0.5) — LN only ever sees
    integer-valued doubles (the proven unigram-LM idiom), and the
    milli-unit scale keeps Σw² under 2^63 (micro-units would overflow
    at tf ≈ 54). Dot products and norms are exact BIGINT sums; the one
    float op is the final dot/√(na·nb), snapped to 1e-9. Engine-shared
    text for both engines. ``w_rel`` (r12): pre-materialized weight
    relation — ``w`` fans into norms + both dot sides, the CTE-inlining
    recompute class; the oracle keeps the one-shot text."""
    w_block = (
        f"w AS (SELECT * FROM {w_rel})"
        if w_rel is not None
        else f"""n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
               FROM {tf_rel}),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
              FROM {tf_rel} GROUP BY tok),
    w AS (
      SELECT t.doc_id, t.tok,
             t.tf * CAST(FLOOR((LN(CAST(n.nd AS DOUBLE))
                                - LN(CAST(dfreq.df AS DOUBLE)))
                               * 1000.0 + 0.5) AS BIGINT) AS w
      FROM {tf_rel} t
      JOIN dfreq ON dfreq.tok = t.tok
      CROSS JOIN n
    )"""
    )
    return f"""
    WITH {w_block},
    norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
              FROM w GROUP BY doc_id),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.w * b.w) AS BIGINT) AS dot,
             CAST(COUNT(*) AS BIGINT) AS shared_terms
      FROM w a JOIN w b ON b.tok = a.tok AND b.doc_id = a.doc_id + 1
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, shared_terms,
           CAST(FLOOR(CAST(dot AS DOUBLE)
                      / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT)
             / CAST(1000000000 AS DOUBLE) AS cosine
    FROM dot
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY doc_a"""


# ------------------------------------------------- hybrid retrieval (RRF)

_RRF_PROBES = (0, 1, 2)  # fixed probe doc ids (exist with text at every SF)
_RRF_FUSE_K = 50         # per-system list depth fed into the fusion
_RRF_C = 60              # canonical RRF constant (Cormack et al., 2009)
_RRF_OUT_K = 10


def _rrf_cand_sql(docs_table: str, emb_table: str) -> str:
    """Candidate universe: docs that have BOTH text and an embedding, so
    the lexical and semantic rankings score the same id set (engine-shared
    text — plain equi-join + null filter)."""
    return (
        f"SELECT d.doc_id, d.text FROM {docs_table} d "
        f"JOIN {emb_table} e ON e.vec_id = d.doc_id "
        f"WHERE d.text IS NOT NULL"
    )


def _rrf_tf_sql(engine: str, cand_rel: str) -> str:
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return (
        "SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf "
        f"FROM (SELECT doc_id, {unnest} AS tok FROM {cand_rel}) t "
        "GROUP BY doc_id, tok"
    )


def _rrf_emb_sql(docs_table: str, emb_table: str) -> str:
    return (
        f"SELECT e.vec_id AS doc_id, e.embedding FROM {emb_table} e "
        f"JOIN {docs_table} d ON d.doc_id = e.vec_id "
        f"WHERE d.text IS NOT NULL"
    )


def _rrf_sem_dot(a: str, b: str, engine: str) -> str:
    """Order-identical sequential-fold dot product — delegates to the
    single source of truth (similarity_ops._dot shares the _DIM
    constant, so a fixture-dimension change lands everywhere at once)."""
    from .similarity_ops import _dot

    return _dot(a, b, engine)


def _rrf_w_ctes(tf_rel: str) -> str:
    """CTE list building the exact-integer tf·idf weight relation ``w``
    from a (doc_id, tok, tf) relation (engine-shared text)."""
    return f"""n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
               FROM {tf_rel}),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
              FROM {tf_rel} GROUP BY tok),
    w AS (
      SELECT t.doc_id, t.tok,
             t.tf * CAST(FLOOR((LN(CAST(n.nd AS DOUBLE))
                                - LN(CAST(dfreq.df AS DOUBLE)))
                               * 1000.0 + 0.5) AS BIGINT) AS w
      FROM {tf_rel} t
      JOIN dfreq ON dfreq.tok = t.tok
      CROSS JOIN n
    )"""


def _rrf_lex_ctes(engine: str) -> str:
    """CTE list ranking the lexical arm (reads ``w``): per-probe exact
    fp9 TF-IDF cosine over candidates sharing ≥1 token."""
    probes = ", ".join(str(p) for p in _RRF_PROBES)
    # bounded probe sides are the build sides BY DESIGN (the static-size
    # estimator must never pick the corpus side — the OOM class)
    lex_hint = "/*+ BROADCAST(p) */ " if engine == D.SPARK else ""
    return f"""norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
              FROM w GROUP BY doc_id),
    lexdot AS (
      SELECT {lex_hint}p.doc_id AS query_id, c.doc_id AS cand_id,
             CAST(SUM(p.w * c.w) AS BIGINT) AS dot
      FROM w p JOIN w c ON c.tok = p.tok AND c.doc_id <> p.doc_id
      WHERE p.doc_id IN ({probes})
      GROUP BY p.doc_id, c.doc_id
    ),
    lex AS (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               CAST(FLOOR(CAST(dot AS DOUBLE)
                          / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                          * 1000000000.0 + 0.5) AS BIGINT) DESC, cand_id)
               AS BIGINT) AS r_lex
      FROM lexdot
      JOIN norms na ON na.doc_id = query_id
      JOIN norms nb ON nb.doc_id = cand_id
    )"""


def _rrf_sem_ctes(engine: str, emb_rel: str) -> str:
    """CTE list ranking the semantic arm: probe-broadcast embedding
    cosine over one corpus scan."""
    probes = ", ".join(str(p) for p in _RRF_PROBES)
    sem_dot = _rrf_sem_dot("q.embedding", "c.embedding", engine)
    sem_qn = _rrf_sem_dot("q.embedding", "q.embedding", engine)
    sem_cn = _rrf_sem_dot("c.embedding", "c.embedding", engine)
    sem_hint = "/*+ BROADCAST(q) */ " if engine == D.SPARK else ""
    return f"""semscored AS (
      SELECT {sem_hint}q.doc_id AS query_id, c.doc_id AS cand_id,
             round({sem_dot} / (sqrt({sem_qn}) * sqrt({sem_cn})), 6) AS cos_sim
      FROM {emb_rel} q JOIN {emb_rel} c ON c.doc_id <> q.doc_id
      WHERE q.doc_id IN ({probes})
    ),
    sem AS (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS r_sem
      FROM semscored
    )"""


def _rrf_fused_cte() -> str:
    """The RRF fusion CTE (reads ``lex`` / ``sem``, engine-shared)."""
    rrf_term = (
        lambda r: f"CAST(FLOOR(CAST(1000000000 AS DOUBLE)"
        f" / CAST({_RRF_C} + {r} AS DOUBLE) + 0.5) AS BIGINT)"
    )
    return f"""fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.cand_id, s.cand_id) AS cand_id,
             l.r_lex AS r_lex, s.r_sem AS r_sem,
             COALESCE({rrf_term('l.r_lex')}, 0)
               + COALESCE({rrf_term('s.r_sem')}, 0) AS rrf_fp
      FROM (SELECT * FROM lex WHERE r_lex <= {_RRF_FUSE_K}) l
      FULL OUTER JOIN (SELECT * FROM sem WHERE r_sem <= {_RRF_FUSE_K}) s
        ON s.query_id = l.query_id AND s.cand_id = l.cand_id
    )"""


def _rrf_chain(
    engine: str,
    tf_rel: str,
    emb_rel: str,
    w_rel: str | None = None,
    lex_rel: str | None = None,
    sem_rel: str | None = None,
) -> str:
    """The shared CTE list (no WITH keyword) through ``fused`` — split
    out of :func:`_rrf_read_sql` (r12) so search_eval_ndcg can rank the
    SAME three arms without duplicating the scoring text.

    The optional ``*_rel`` params substitute PRE-MATERIALIZED relations
    for the corresponding CTE (r12 recompute fix): Spark inlines every
    non-recursive CTE, so ``w`` (3 references: norms + both lexdot
    sides) and, in the eval query, ``lex`` / ``sem`` (2 references
    each: fused + arms) otherwise re-execute their whole subtree per
    reference. A substituted ``lex``/``sem`` holds the top-``_RRF_FUSE_K``
    rows per probe — every downstream consumer filters at least that
    tight, so results are identical. The DuckDB oracle never passes
    them (one-shot WITH text, byte-identical to the pre-r12 chain)."""
    parts: list[str] = []
    if lex_rel is None or sem_rel is None:
        if lex_rel is None:
            if w_rel is not None:
                parts.append(f"w AS (SELECT * FROM {w_rel})")
            else:
                parts.append(_rrf_w_ctes(tf_rel))
    if lex_rel is not None:
        parts.append(f"lex AS (SELECT * FROM {lex_rel})")
    else:
        parts.append(_rrf_lex_ctes(engine))
    if sem_rel is not None:
        parts.append(f"sem AS (SELECT * FROM {sem_rel})")
    else:
        parts.append(_rrf_sem_ctes(engine, emb_rel))
    parts.append(_rrf_fused_cte())
    return ",\n    ".join(parts)


def _rrf_w_sql(tf_rel: str) -> str:
    """Standalone SQL for the ``w`` weight relation — the Spark side
    materializes it once (3 downstream references)."""
    return f"WITH {_rrf_w_ctes(tf_rel)} SELECT doc_id, tok, w FROM w"


def _rrf_lex_topk_sql(engine: str, w_rel: str) -> str:
    """Standalone SQL for the lexical arm's top-``_RRF_FUSE_K`` ranking
    over a materialized ``w`` relation."""
    return (
        f"WITH w AS (SELECT * FROM {w_rel}),\n    {_rrf_lex_ctes(engine)}\n"
        f"    SELECT query_id, cand_id, r_lex FROM lex"
        f" WHERE r_lex <= {_RRF_FUSE_K}"
    )


def _rrf_sem_topk_sql(engine: str, emb_rel: str) -> str:
    """Standalone SQL for the semantic arm's top-``_RRF_FUSE_K``
    ranking."""
    return (
        f"WITH {_rrf_sem_ctes(engine, emb_rel)}\n"
        f"    SELECT query_id, cand_id, r_sem FROM sem"
        f" WHERE r_sem <= {_RRF_FUSE_K}"
    )


def _rrf_read_sql(
    engine: str,
    tf_rel: str,
    emb_rel: str,
    w_rel: str | None = None,
) -> str:
    """Reciprocal-rank fusion of a lexical and a semantic ranking.

    Lexical arm: exact-integer TF-IDF cosine (tf · idf_milli weights —
    LN only ever sees integer-valued doubles, BIGINT dots/norms, one
    final float division snapped to 1e-9) between each probe doc and
    every candidate sharing ≥1 token; top-``_RRF_FUSE_K`` by fp9 cosine.
    Semantic arm: embedding cosine (sequential-fold dot, round 6 — the
    similarity_knn_bruteforce idiom); top-``_RRF_FUSE_K``. Fusion:
    RRF_fp(d) = Σ_arms FLOOR(1e9 / (C + rank) + 0.5) over the arms that
    ranked d (FULL OUTER JOIN, absent arm contributes 0) — each term is
    ONE IEEE division on exact integers, summed as BIGINTs, so the score
    is bit-identical cross-engine; final rank breaks ties by cand_id.
    """
    return f"""
    WITH {_rrf_chain(engine, tf_rel, emb_rel, w_rel=w_rel)}
    SELECT query_id, cand_id, r_lex, r_sem,
           CAST(rrf_fp AS DOUBLE) / 1000000000.0 AS rrf_score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, cand_id, r_lex, r_sem, rrf_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_fp DESC, cand_id) AS rank
      FROM fused) t
    WHERE rank <= {_RRF_OUT_K}
    ORDER BY query_id, rank"""


def _rrf_oracle() -> str:
    cand = _rrf_cand_sql("documents", "embeddings")
    tf = _rrf_tf_sql(D.DUCK, "rrf_cand")
    emb = _rrf_emb_sql("documents", "embeddings")
    read = _rrf_read_sql(D.DUCK, "rrf_tf", "rrf_emb")
    return (
        f"WITH rrf_cand AS ({cand}), rrf_tf AS ({tf}), rrf_emb AS ({emb}),"
        + read.lstrip().removeprefix("WITH")
    )


@register(
    "search_hybrid_rrf",
    _rrf_oracle(),
    doc="training-data ext: hybrid retrieval via reciprocal-rank fusion "
        "(Cormack et al. 2009) — the standard RAG-pipeline combiner of a "
        "lexical ranking (exact-integer TF-IDF cosine over the probe "
        "tokens' postings) and a semantic ranking (embedding cosine, "
        "bounded probe side broadcast over one corpus scan) on a shared "
        "candidate universe (docs ∩ embeddings). RRF term = "
        "FLOOR(1e9/(C+rank)+0.5) per arm, BIGINT-summed across arms via "
        "FULL OUTER JOIN of the two top-50 lists — bit-identical "
        "cross-engine. At 100 TB both arms are one corpus pass each "
        "(postings semi-join / broadcast NL scan) and the fusion joins "
        "two ≤|probes|×50-row frames",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("bq_rrf_docs")
    emb.createOrReplaceTempView("bq_rrf_emb_raw")
    cand = spark.sql(_rrf_cand_sql("bq_rrf_docs", "bq_rrf_emb_raw"))
    # 1-partition single-file scan pitfall: spread the tokenize explode
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    cand.createOrReplaceTempView("bq_rrf_cand")
    # the tf relation fans into n/dfreq/w(×2)/norms(×2) — CTE-inlining
    # class: one corpus tokenize pass, lazily checkpointed (honest: the
    # first caller action materializes it inside its own timing)
    # receipt: unstaged/staged 1.08× at 10×
    # (reports/receipts/nockpt_10x_graph_search_sketch.json; this builder's 2 stagings A/B'd together)
    tf = spark.sql(_rrf_tf_sql(D.SPARK, "bq_rrf_cand")).localCheckpoint(
        eager=False
    )
    tf.createOrReplaceTempView("bq_rrf_tf")
    # w fans into norms + both lexdot sides (CTE-inlining class): one
    # materialized weight pass instead of three (r12)
    # receipt: with this builder's first staging (1.08× at 10×)
    w = spark.sql(_rrf_w_sql("bq_rrf_tf")).localCheckpoint(eager=False)
    w.createOrReplaceTempView("bq_rrf_w")
    # emb relation deliberately NOT staged (r13 measured rejection): it
    # feeds both semantic-arm sides, but the q side prunes to the 3
    # probe rows at the scan (nearly-free re-read) while a checkpoint
    # would materialize the FULL corpus-scale (doc_id, embedding) frame
    # to save it — 0.88× at the 100× salted tier
    # (bench_r13_scale_receipts.py). The ×2 scans in the plan are one
    # full pass + one pruned probe read, not a recompute class.
    # That ratio came from a no-op patch: both arms ran the staged code,
    # so it is noise (OPTIMIZATION_r13 §5 annotation).
    spark.sql(_rrf_emb_sql("bq_rrf_docs", "bq_rrf_emb_raw")).createOrReplaceTempView(
        "bq_rrf_emb"
    )
    return spark.sql(
        _rrf_read_sql(D.SPARK, "bq_rrf_tf", "bq_rrf_emb", w_rel="bq_rrf_w")
    )


# ------------------------------------- retrieval-quality eval (nDCG@k)

_EVAL_K = 10


def _eval_disc_values() -> str:
    """fp6 DCG discount literals 1/log2(r+1), r = 1..K — FLOOR-snapped in
    Python so neither engine evaluates a transcendental (the log2 FMA /
    libm-variance hazard class); DCG then sums exact integers."""
    import math

    return ", ".join(
        f"({r}, {int(math.floor(1_000_000 / math.log2(r + 1) + 0.5))})"
        for r in range(1, _EVAL_K + 1)
    )


def _eval_planted_sql(engine: str, docs_table: str, emb_table: str) -> str:
    """Planted graded qrels: 5 relevant docs per probe, built so the
    three arms genuinely diverge —

    - A (rel 2): exact text + exact embedding copy (both arms hit)
    - B (rel 2): near-copy text, odd-dims-zeroed embedding (cos ≈ .71)
    - C (rel 1): first-half text, probe+donor(q+10) mixed embedding
    - D (rel 1): donor(q+20) text with even-dims-zeroed probe embedding
      — the PARAPHRASE plant: invisible to the lexical arm
    - E (rel 1): first-half text + pad with donor(q+30)'s embedding
      — the KEYWORD plant: invisible to the semantic arm

    All five are derived from base-table rows by engine-shared
    elementwise expressions (float→double casts exact, single-rounded
    IEEE adds), so the planted vectors are bit-identical cross-engine."""
    from .similarity_ops import _DIM

    probes = ", ".join(str(p) for p in _RRF_PROBES)
    at_e = D.at("e.embedding", "i", engine)
    at_e2 = D.at("e2.embedding", "i", engine)

    def emap(elem: str) -> str:
        return D.transform(
            D.iseq("1", str(_DIM), engine), f"i -> {elem}", engine
        )

    castd = emap(f"CAST({at_e} AS DOUBLE)")
    castd2 = emap(f"CAST({at_e2} AS DOUBLE)")
    oddz = emap(
        f"CASE WHEN i % 2 = 0 THEN CAST({at_e} AS DOUBLE)"
        " ELSE CAST(0 AS DOUBLE) END"
    )
    evenz = emap(
        f"CASE WHEN i % 2 = 1 THEN CAST({at_e} AS DOUBLE)"
        " ELSE CAST(0 AS DOUBLE) END"
    )
    mix = emap(f"CAST({at_e} AS DOUBLE) + CAST({at_e2} AS DOUBLE)")
    toks = D.split_ws("d.text", engine)
    half_text = D.arr_join(
        D.arr_slice(
            toks, "1", f"greatest({D.idiv(D.alen(toks, engine), '2', engine)}, 1)",
            engine,
        ),
        "' '",
        engine,
    )
    return f"""
      SELECT 1000000 + d.doc_id AS doc_id, d.text AS text,
             {castd} AS embedding, d.doc_id AS qid, 2 AS rel
      FROM {docs_table} d JOIN {emb_table} e ON e.vec_id = d.doc_id
      WHERE d.doc_id IN ({probes}) AND d.text IS NOT NULL
      UNION ALL
      SELECT 1100000 + d.doc_id, concat(d.text, ' zzeval'), {oddz},
             d.doc_id, 2
      FROM {docs_table} d JOIN {emb_table} e ON e.vec_id = d.doc_id
      WHERE d.doc_id IN ({probes}) AND d.text IS NOT NULL
      UNION ALL
      SELECT 1200000 + d.doc_id, {half_text}, {mix}, d.doc_id, 1
      FROM {docs_table} d JOIN {emb_table} e ON e.vec_id = d.doc_id
      JOIN {emb_table} e2 ON e2.vec_id = d.doc_id + 10
      WHERE d.doc_id IN ({probes}) AND d.text IS NOT NULL
      UNION ALL
      SELECT 1300000 + d.doc_id, d2.text, {evenz}, d.doc_id, 1
      FROM {docs_table} d JOIN {emb_table} e ON e.vec_id = d.doc_id
      JOIN {docs_table} d2 ON d2.doc_id = d.doc_id + 20
      WHERE d.doc_id IN ({probes}) AND d.text IS NOT NULL
        AND d2.text IS NOT NULL
      UNION ALL
      SELECT 1400000 + d.doc_id, concat({half_text}, ' zzpad'), {castd2},
             d.doc_id, 1
      FROM {docs_table} d JOIN {emb_table} e2 ON e2.vec_id = d.doc_id + 30
      WHERE d.doc_id IN ({probes}) AND d.text IS NOT NULL"""


def _eval_cand_sql(docs_table: str, emb_table: str, planted_rel: str) -> str:
    return (
        _rrf_cand_sql(docs_table, emb_table)
        + f" UNION ALL SELECT doc_id, text FROM {planted_rel}"
    )


def _eval_emb_sql(
    engine: str, docs_table: str, emb_table: str, planted_rel: str
) -> str:
    from .similarity_ops import _DIM

    castd = D.transform(
        D.iseq("1", str(_DIM), engine),
        f"i -> CAST({D.at('e.embedding', 'i', engine)} AS DOUBLE)",
        engine,
    )
    return (
        f"SELECT e.vec_id AS doc_id, {castd} AS embedding FROM {emb_table} e "
        f"JOIN {docs_table} d ON d.doc_id = e.vec_id "
        f"WHERE d.text IS NOT NULL "
        f"UNION ALL SELECT doc_id, embedding FROM {planted_rel}"
    )


def _eval_read_sql(
    engine: str,
    tf_rel: str,
    emb_rel: str,
    rel_rel: str,
    lex_rel: str | None = None,
    sem_rel: str | None = None,
) -> str:
    """nDCG@K + recall@K of the lexical, semantic, and fused arms against
    the planted qrels. DCG_fp = Σ gain·disc_fp6[r] is an exact BIGINT sum
    (gain ∈ {0,1,3}, disc from the literal table); IDCG_fp comes from the
    per-query (n2, n1) grade counts laid ideally over the same table; the
    ONLY float ops are the two final single-rounded divisions.
    ``lex_rel``/``sem_rel``: pre-materialized top-``_RRF_FUSE_K`` arm
    rankings (each arm is referenced TWICE — fused + arms — so the Spark
    side materializes them once; see :func:`_rrf_chain`)."""
    chain = _rrf_chain(
        engine, tf_rel, emb_rel, lex_rel=lex_rel, sem_rel=sem_rel
    )
    return f"""
    WITH {chain},
    rrffinal AS (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rrf_fp DESC, cand_id) AS BIGINT) AS r
      FROM fused
    ),
    arms AS (
      SELECT 'lex' AS arm, query_id, cand_id, r_lex AS r
      FROM lex WHERE r_lex <= {_EVAL_K}
      UNION ALL
      SELECT 'sem' AS arm, query_id, cand_id, r_sem AS r
      FROM sem WHERE r_sem <= {_EVAL_K}
      UNION ALL
      SELECT 'rrf' AS arm, query_id, cand_id, r
      FROM rrffinal WHERE r <= {_EVAL_K}
    ),
    disc AS (SELECT * FROM (VALUES {_eval_disc_values()}) AS t(r, d)),
    relcnt AS (
      SELECT qid AS query_id,
             CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM {rel_rel} GROUP BY qid
    ),
    dcg AS (
      SELECT a.arm, a.query_id,
             CAST(SUM((CASE WHEN rl.rel = 2 THEN 3 WHEN rl.rel = 1 THEN 1
                            ELSE 0 END) * d.d) AS BIGINT) AS dcg_fp,
             CAST(SUM(CASE WHEN rl.rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits
      FROM arms a
      JOIN disc d ON d.r = a.r
      LEFT JOIN {rel_rel} rl
        ON rl.qid = a.query_id AND rl.doc_id = a.cand_id
      GROUP BY a.arm, a.query_id
    ),
    idcg AS (
      SELECT rc.query_id,
             CAST(SUM(CASE
               WHEN d.r <= LEAST({_EVAL_K}, rc.n2) THEN 3 * d.d
               WHEN d.r > rc.n2
                AND d.r <= LEAST({_EVAL_K}, rc.n2 + rc.n1) THEN d.d
               ELSE 0 END) AS BIGINT) AS idcg_fp
      FROM relcnt rc CROSS JOIN disc d
      GROUP BY rc.query_id
    )
    SELECT g.arm, g.query_id,
           rc.n2 + rc.n1 AS n_rel,
           g.hits AS hits_at_k,
           CAST(g.hits AS DOUBLE) / CAST(rc.n2 + rc.n1 AS DOUBLE)
             AS recall_at_k,
           CAST(g.dcg_fp AS DOUBLE) / CAST(i.idcg_fp AS DOUBLE) AS ndcg_at_k
    FROM dcg g
    JOIN idcg i ON i.query_id = g.query_id
    JOIN relcnt rc ON rc.query_id = g.query_id
    ORDER BY g.arm, g.query_id"""


def _eval_oracle() -> str:
    planted = _eval_planted_sql(D.DUCK, "documents", "embeddings")
    cand = _eval_cand_sql("documents", "embeddings", "ev_planted")
    tf = _rrf_tf_sql(D.DUCK, "ev_cand")
    emb = _eval_emb_sql(D.DUCK, "documents", "embeddings", "ev_planted")
    read = _eval_read_sql(D.DUCK, "ev_tf", "ev_emb", "ev_rel")
    return (
        f"WITH ev_planted AS ({planted}), ev_cand AS ({cand}), "
        f"ev_tf AS ({tf}), ev_emb AS ({emb}), "
        f"ev_rel AS (SELECT qid, doc_id, rel FROM ev_planted),"
        + read.lstrip().removeprefix("WITH")
    )


@register(
    "search_eval_ndcg",
    _eval_oracle(),
    doc="training-data ext (r12): retrieval-quality eval — nDCG@10 and "
        "recall@10 of the lexical, semantic, and RRF-fused arms of "
        "search_hybrid_rrf against PLANTED graded qrels (exact copy / "
        "near copy / half-text / embedding-only paraphrase / text-only "
        "keyword plants per probe, so the arms measurably diverge and "
        "fusion demonstrably recovers both blind spots). DCG uses a "
        "Python-precomputed fp6 discount table (no engine evaluates "
        "log2), gains and discounts sum as exact BIGINTs, and the only "
        "float ops are the final two divisions — hash-exact. At 100 TB "
        "the eval adds one bounded qrel relation and two ≤|probes|·K "
        "aggregates on top of the ranking arms' own cost",
)
def search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("bq_ev_docs")
    emb.createOrReplaceTempView("bq_ev_emb_raw")
    spark.sql(
        _eval_planted_sql(D.SPARK, "bq_ev_docs", "bq_ev_emb_raw")
    ).createOrReplaceTempView("bq_ev_planted")
    cand = spark.sql(_eval_cand_sql("bq_ev_docs", "bq_ev_emb_raw", "bq_ev_planted"))
    # 1-partition single-file scan pitfall: spread the tokenize explode
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    cand.createOrReplaceTempView("bq_ev_cand")
    # no checkpoints: staging tf, the qrel relation, w and both arms'
    # top-K (r12) did not pay — unstaged/staged 0.99× at the 10× tier
    # and 1.00× at 100× (reports/receipts/nockpt_*)
    spark.sql(_rrf_tf_sql(D.SPARK, "bq_ev_cand")).createOrReplaceTempView("bq_ev_tf")
    spark.sql(
        _eval_emb_sql(D.SPARK, "bq_ev_docs", "bq_ev_emb_raw", "bq_ev_planted")
    ).createOrReplaceTempView("bq_ev_emb")
    spark.sql("SELECT qid, doc_id, rel FROM bq_ev_planted").createOrReplaceTempView(
        "bq_ev_rel"
    )
    spark.sql(_rrf_w_sql("bq_ev_tf")).createOrReplaceTempView("bq_ev_w")
    spark.sql(_rrf_lex_topk_sql(D.SPARK, "bq_ev_w")).createOrReplaceTempView("bq_ev_lex")
    spark.sql(_rrf_sem_topk_sql(D.SPARK, "bq_ev_emb")).createOrReplaceTempView("bq_ev_sem")
    return spark.sql(
        _eval_read_sql(
            D.SPARK,
            "bq_ev_tf",
            "bq_ev_emb",
            "bq_ev_rel",
            lex_rel="bq_ev_lex",
            sem_rel="bq_ev_sem",
        )
    )


@register(
    "text_tfidf_cosine",
    "WITH tfq AS (" + _tfidf_tf_sql(D.DUCK, "documents") + "),"
    + _tfidf_read_sql("tfq").lstrip().removeprefix("WITH"),
    doc="training-data ext: vector-space TF-IDF cosine similarity on a "
        "bounded deterministic pair set (adjacent doc ids) — the "
        "classic-IR sibling of BM25 and the lexical complement of the "
        "embedding-cosine family. Weights are exact-integer tf·idf_milli "
        "(LN only sees integer-valued doubles — the unigram-LM idiom), "
        "dot/norms are exact BIGINT sums, one final float division "
        "snapped to 1e-9. Spark side materializes the one corpus "
        "tokenize pass into the small tf relation (CTE-inlining class); "
        "the scale path for UNBOUNDED pairs is LSH/ANN candidate "
        "generation feeding this exact scorer",
)
def text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_tfidf_docs")
    # receipt: unstaged/staged 1.82× at sf0.1 (reports/receipts/
    # nockpt_sf0.1_text_support.json; the 10× tier returns 0 rows;
    # this builder's 2 stagings A/B'd together)
    tf = spark.sql(_tfidf_tf_sql(D.SPARK, "bq_tfidf_docs")).localCheckpoint(
        eager=False
    )
    tf.createOrReplaceTempView("bq_tfidf_tf")
    # w fans into norms + both dot sides (CTE-inlining class): one
    # materialized weight pass instead of three (r12)
    # receipt: with this builder's first staging (1.82× at sf0.1)
    w = spark.sql(_rrf_w_sql("bq_tfidf_tf")).localCheckpoint(eager=False)
    w.createOrReplaceTempView("bq_tfidf_w")
    return spark.sql(_tfidf_read_sql("bq_tfidf_tf", w_rel="bq_tfidf_w"))
