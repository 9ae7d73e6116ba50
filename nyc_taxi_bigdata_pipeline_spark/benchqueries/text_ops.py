"""Text-analysis operators over the documents table (training-data
pipeline extensions): token counting, language-ID heuristic, quality
scoring, document fingerprinting.

Beyond reference surface (SURVEY §7.2 step 8) — these are the text ops a
large-scale training-data pipeline needs. Everything is built from
JVM-side expressions (no Python UDFs): tokenization via split, scoring
via arithmetic on lengths, fingerprints via the portable md5 hash. Each
query renders the same template for Spark and DuckDB (dialect.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import dialect as D
from .registry import register


def _run_rendered(spark: SparkSession, sf_dir: str, table: str, render, view: str) -> DataFrame:
    load_table(spark, sf_dir, table).createOrReplaceTempView(view)
    return spark.sql(render(D.SPARK, view))


# ------------------------------------------------------------- token counting


def _token_counts(engine: str, table: str) -> str:
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    return f"""
    SELECT lang, COUNT(*) AS docs,
           CAST(SUM({tok}) AS BIGINT) AS total_tokens,
           CAST(SUM({tok}) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(MAX({tok}) AS INT) AS max_tokens
    FROM {table} GROUP BY lang"""


@register(
    "text_token_counts",
    _token_counts(D.DUCK, "documents"),
    doc="training-data ext: whitespace token counting per language",
    bench=True,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _token_counts, "bq_tokcnt_docs")


# BPE-ish subword segmentation: letter runs, digit runs, and single
# punctuation marks become separate tokens (the pre-tokenization pass a
# byte-pair encoder applies before merges). ASCII classes + literal
# space only, so Java regex (Spark) and RE2 (DuckDB) agree exactly.
_BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _token_counts_bpe(engine: str, table: str) -> str:
    ws = D.alen(D.split_ws("trim(text)", engine), engine)
    bpe = D.alen(D.re_extract_all("text", _BPE_PATTERN, engine), engine)
    return f"""
    SELECT lang, COUNT(*) AS docs,
           CAST(SUM({ws}) AS BIGINT) AS ws_tokens,
           CAST(SUM({bpe}) AS BIGINT) AS bpe_tokens,
           CAST(SUM({bpe}) AS DOUBLE) / SUM({ws}) AS tokens_per_word
    FROM {table} GROUP BY lang"""


@register(
    "text_token_counts_bpe",
    _token_counts_bpe(D.DUCK, "documents"),
    doc="training-data ext: BPE-style regex pre-tokenization (letter/digit "
        "runs + punctuation marks) vs whitespace token counts per language — "
        "the tokens-per-word ratio LLM data budgets are priced in",
)
def text_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _token_counts_bpe, "bq_tokbpe_docs")


# ----------------------------------------------------------- language ID


# Marker tokens per language; the synthetic corpus shares one vocabulary,
# so this measures the *machinery* (per-class token scoring + argmax),
# not linguistic accuracy.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "fast", "slow"),
    "de": ("der", "und", "die", "das", "nicht"),
    "es": ("el", "la", "los", "que", "de"),
    "fr": ("le", "la", "les", "et", "de"),
    "zh": ("zh0", "zh1", "zh2", "zh3", "zh4"),
}


def _lang_id(engine: str, table: str) -> str:
    toks = D.split_ws("lower(text)", engine)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        scores.append(
            f"{D.alen(D.arr_filter(toks, f'x -> x IN ({inlist})', engine), engine)} AS s_{lang}"
        )
    # deterministic argmax: strict > comparisons in fixed order
    pred = """CASE
        WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        WHEN s_es > s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        WHEN s_fr > s_en AND s_fr >= s_zh THEN 'fr'
        WHEN s_zh > s_en THEN 'zh'
        ELSE 'en' END"""
    return f"""
    SELECT pred_lang, COUNT(*) AS docs,
           CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS hits
    FROM (
      SELECT lang, {pred} AS pred_lang
      FROM (SELECT lang, {', '.join(scores)} FROM {table}) scored
    ) labeled
    GROUP BY pred_lang"""


@register(
    "text_lang_id",
    _lang_id(D.DUCK, "documents"),
    doc="training-data ext: marker-token language-ID heuristic + accuracy "
        "against the stored lang label",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _lang_id, "bq_langid_docs")


# ----------------------------------------------------------- quality scoring


def _quality_score(engine: str, table: str) -> str:
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    nopunct = D.re_replace_all("text", r"[.,;:!?]", "", engine)
    nospace = D.re_replace_all("text", " ", "", engine)
    return f"""
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(punct_cnt AS BIGINT) AS punct_cnt,
           CAST(avg_token_len AS DOUBLE) AS avg_token_len,
           CAST(CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END
              + CASE WHEN punct_cnt * 10 <= n_chars THEN 1 ELSE 0 END
              + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 1 ELSE 0 END
             AS INT) AS quality_score
    FROM (
      SELECT doc_id, n_chars,
             {tok} AS n_tokens,
             length(text) - length({nopunct}) AS punct_cnt,
             CAST(length({nospace}) AS DOUBLE) / {tok} AS avg_token_len
      FROM {table}
    ) m"""


@register(
    "text_quality_score",
    _quality_score(D.DUCK, "documents"),
    doc="training-data ext: doc quality scoring from length/punctuation/"
        "token-shape ratios (one row per doc)",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _quality_score, "bq_quality_docs")


# --------------------------------------------------------- fingerprinting


def _fingerprint(engine: str, table: str) -> str:
    norm = D.re_replace_all("lower(trim(text))", r"\s+", " ", engine)
    full_fp = D.h64(norm, engine)
    prefix_fp = D.h64(f"substring({norm}, 1, 64)", engine)
    return f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT {full_fp}) AS distinct_fp,
           COUNT(DISTINCT {prefix_fp}) AS distinct_prefix_fp,
           CAST(COUNT(*) - COUNT(DISTINCT {full_fp}) AS BIGINT) AS dup_docs
    FROM {table}"""


@register(
    "text_fingerprint",
    _fingerprint(D.DUCK, "documents"),
    doc="training-data ext: md5-based document fingerprinting; dup summary "
        "over full and 64-char-prefix fingerprints",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _fingerprint, "bq_fp_docs")


# --------------------------------------------------------- vocab mining


def _top_bigrams(engine: str, table: str, k: int = 20) -> str:
    """Corpus-level top-k word bigrams (vocabulary/collocation mining —
    the frequency pass behind BPE merge selection and stopword lists)."""
    from .curation_ops import _word_ngrams

    toks = D.split_ws("lower(trim(text))", engine)
    grams = _word_ngrams(engine, 2)
    gram_rows = D.unnest_col("gs", engine)
    return f"""
    WITH t AS (SELECT {toks} AS __t FROM {table}),
    g AS (SELECT {gram_rows} AS bigram FROM (SELECT {grams} AS gs FROM t) x)
    SELECT bigram, COUNT(*) AS cnt
    FROM g GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT {k}"""


@register(
    "text_top_bigrams",
    _top_bigrams(D.DUCK, "documents"),
    doc="training-data ext: corpus top-20 bigram mining (the counting pass "
        "behind BPE merges / collocation lists) — exploded-position gram "
        "rows in codegen feed ONE map-side-combined count + "
        "TakeOrderedAndProject; deterministic lexicographic tiebreak",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    grams = curation.word_ngram_rows(docs, n=2, lower=True)
    return (
        grams.groupBy(F.col("__gram").alias("bigram"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


# ------------------------------------------------ corpus-relative rarity


def _rarity_score(engine: str, table: str) -> str:
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return f"""
    WITH toks AS (SELECT doc_id, {unnest} AS tok FROM {table}),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
                   COUNT(*) AS vocab_size FROM freq)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(f.cnt) AS DOUBLE) / COUNT(*) AS avg_tok_freq,
           CAST(MIN(f.cnt) AS BIGINT) AS rarest_cnt,
           CAST(SUM(CASE WHEN f.cnt * tot.vocab_size * 2 <= tot.total_tokens
                         THEN 1 ELSE 0 END) AS BIGINT) AS rare_tokens
    FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
    GROUP BY t.doc_id"""


@register(
    "text_rarity_score",
    _rarity_score(D.DUCK, "documents"),
    doc="training-data ext: corpus-relative token-rarity features per doc "
        "(operators/text.token_rarity_features) — global frequency pass + "
        "broadcast re-join; rare = freq below half the corpus mean, pure "
        "integer comparison so it hash-matches across engines",
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_rarity_features

    docs = load_table(spark, sf_dir, "documents")
    return token_rarity_features(docs, id_col="doc_id", col="text")


# ------------------------------------------- unigram-LM quality scoring


def _unigram_logprob(engine: str, table: str) -> str:
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return f"""
    WITH toks AS (SELECT doc_id, {unnest} AS tok FROM {table}),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
                   CAST(COUNT(*) AS BIGINT) AS vocab_size FROM freq),
    den AS (SELECT CAST(FLOOR(LN(CAST(total_tokens + vocab_size AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS fp_den FROM tot),
    fp AS (SELECT t.doc_id,
                  CAST(FLOOR(LN(CAST(f.cnt + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                       AS BIGINT) AS fp_log
           FROM toks t JOIN freq f ON t.tok = f.tok),
    per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                       SUM(fp_log) AS fp_sum
                FROM fp GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           CAST(fp_sum - n_tokens * fp_den AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * 1000000.0) AS avg_logprob,
           fp_sum - n_tokens * fp_den < -7000000 * n_tokens AS low_quality
    FROM per_doc CROSS JOIN den"""


@register(
    "text_unigram_logprob",
    _unigram_logprob(D.DUCK, "documents"),
    doc="training-data ext: CCNet-style unigram-LM quality score "
        "(operators/text.unigram_logprob_features) — avg token "
        "log-probability under the corpus's own add-one unigram model. "
        "Each token's ln(cnt+1) snaps to fixed-point micro-nats (FLOOR "
        "half-up → BIGINT) so the per-doc SUM is exact-integer and "
        "order-independent across engines; only the final division is "
        "float. low_quality is an integer comparison in micro-nats",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import unigram_logprob_features

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob_features(docs, id_col="doc_id", col="text")


# --------------------------------------------- per-source KL divergence


def _kl_docs_sql(engine: str, table: str) -> str:
    """Full-data pass: per-(source, token) exact counts — the only part
    that touches the corpus; everything downstream is vocabulary-sized."""
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return f"""
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT source, {unnest} AS tok FROM {table}) t
    GROUP BY source, tok"""


def _fp_ln(x: str) -> str:
    """ln(x) snapped to integer micro-nats (the unigram-logprob idiom):
    both engines round the same double to the same grid point, so sums
    of these are exact integers."""
    return f"CAST(FLOOR(LN(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


def _kl_read_sql(sf: str, cont: bool = False) -> str:
    # KL(P_s || Q) = (1/n_s) * Σ_t c_st · (ln c_st − ln n_s − ln C_t + ln N)
    # with every ln pre-snapped to micro-nats → the Σ is exact integer;
    # only the final per-source division is float (textually shared).
    # cont=True continues an enclosing WITH clause (the oracle wraps the
    # docs pass as its first CTE) instead of opening a second one.
    lead = "," if cont else "WITH"
    return f"""
    {lead} st AS (SELECT source, SUM(c) AS n FROM {sf} GROUP BY source),
    cf AS (SELECT tok, SUM(c) AS ctot FROM {sf} GROUP BY tok),
    nt AS (SELECT SUM(n) AS ntot FROM st),
    terms AS (
      SELECT s.source, st.n,
             s.c * ({_fp_ln('s.c')} + {_fp_ln('nt.ntot')}
                    - {_fp_ln('st.n')} - {_fp_ln('cf.ctot')}) AS contrib
      FROM {sf} s
      JOIN st ON st.source = s.source
      JOIN cf ON cf.tok = s.tok
      CROSS JOIN nt
    )
    SELECT source, CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_used,
           CAST(SUM(contrib) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE) * 1000000.0) AS kl_nats
    FROM terms GROUP BY source ORDER BY source"""


@register(
    "text_kl_divergence",
    f"WITH sf AS ({_kl_docs_sql(D.DUCK, 'documents')})\n"
    + _kl_read_sql("sf", cont=True),
    doc="training-data ext: per-source unigram KL divergence vs the "
        "corpus distribution — the domain-shift / mixture-drift monitor "
        "a training-data pipeline runs per ingest batch. Every ln snaps "
        "to integer micro-nats (unigram-logprob idiom) so the Σ c·(…) "
        "is exact-integer and order-independent; one corpus pass builds "
        "the (source, token) counts, the divergence itself runs on the "
        "vocabulary-sized table (Spark side: counts lazily checkpointed "
        "into a temp view so the multi-reference read-back never "
        "re-scans the corpus — the CTE-inlining class)",
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("bq_kl_docs")
    # receipt: unstaged/staged 1.07× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json)
    sf = spark.sql(_kl_docs_sql(D.SPARK, "bq_kl_docs")).localCheckpoint(eager=False)
    sf.createOrReplaceTempView("bq_kl_counts")
    return spark.sql(_kl_read_sql("bq_kl_counts"))


# --- BPE oracle (DuckDB-only text; the Spark side is operators/bpe) ---
# learn_bpe's merge loop is deterministic (argmax on count DESC, then
# lexicographic pair), so DuckDB can REPLAY it as a chained-CTE unroll:
# each level materializes the argmax pair m{k} and the merged symbol
# table lvl{k}. Every level references its predecessor twice (pair
# count + merge application) — exactly the exponential-inline shape
# that killed the SSSP oracle in r10 — so every CTE carries DuckDB's
# `AS MATERIALIZED` hint (oracle-only text; Spark never runs this).
# The greedy left-to-right fold is expressed positionally: for merge
# (a,b) with a≠b adjacent matches can never overlap; for a=b they
# overlap in runs, and the fold keeps alternating matches from each
# run's start — gaps-and-islands (i − row_number among match rows)
# plus odd-parity row_number inside each island reproduces it exactly.
_BPE_N_MERGES = 12
_BPE_MIN_PAIR_FREQ = 2
_BPE_EOW = "▁"  # operators/bpe.END_OF_WORD


def _bpe_chain_sql(table: str, n_merges: int = _BPE_N_MERGES) -> str:
    """WITH-chain prefix: w0/lvl0 plus (m{k}, e{k}, k{k}, lvl{k}) per
    merge level, replaying operators/bpe.learn_bpe on DuckDB."""
    parts = [f"""WITH w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM {table} WHERE text IS NOT NULL) t
  WHERE length(word) > 0 GROUP BY word
), lvl0 AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN i = length(word) THEN substr(word, i, 1) || '{_BPE_EOW}'
                   ELSE substr(word, i, 1) END ORDER BY i) AS syms
  FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i FROM w0) g
  GROUP BY word, freq
)"""]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f""", m{k} AS MATERIALIZED (
  SELECT a, b, cnt FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS i FROM lvl{p}) q
    GROUP BY 1, 2 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
  ) WHERE cnt >= {_BPE_MIN_PAIR_FREQ}
), e{k} AS MATERIALIZED (
  SELECT q.word, q.freq, q.i, q.syms[q.i] AS s,
         (m.a IS NOT NULL AND q.i < len(q.syms)
          AND q.syms[q.i] = m.a AND q.syms[q.i + 1] = m.b) AS mt
  FROM (SELECT word, freq, syms, unnest(range(1, len(syms) + 1)) AS i
        FROM lvl{p}) q
  LEFT JOIN m{k} m ON TRUE
), k{k} AS MATERIALIZED (
  SELECT word, freq, i, s, mt,
         mt AND (ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY i) % 2 = 1)
           AS keepm
  FROM (
    SELECT word, freq, i, s, mt,
           CASE WHEN mt
                THEN i - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY i)
           END AS isl
    FROM e{k}
  ) x
), lvl{k} AS MATERIALIZED (
  SELECT word, freq, list(tok ORDER BY i) AS syms
  FROM (
    SELECT word, freq, i,
           CASE WHEN keepm
                THEN s || LEAD(s) OVER (PARTITION BY word ORDER BY i)
                ELSE s END AS tok,
           COALESCE(LAG(keepm) OVER (PARTITION BY word ORDER BY i), FALSE)
             AS cons
    FROM k{k}
  ) y WHERE NOT cons
  GROUP BY word, freq
)""")
    return "".join(parts)


def _bpe_merges_oracle(table: str, n_merges: int = _BPE_N_MERGES) -> str:
    unions = "\n  UNION ALL ".join(
        f'SELECT {k} AS rank, a AS "left", b AS "right", a || b AS merged,'
        f" CAST(cnt AS BIGINT) AS weighted_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        _bpe_chain_sql(table, n_merges)
        + f"""
SELECT CAST(rank AS INT) AS rank, "left", "right", merged, weighted_count
FROM ({unions}) z ORDER BY rank"""
    )


def _bpe_encode_stats_oracle(table: str, n_merges: int = _BPE_N_MERGES) -> str:
    # bpe_tokens needs no corpus re-join: w0.freq already counts every
    # non-empty word occurrence, so Σ freq·len(syms) over the final
    # level IS the encoded-corpus token count (for in-vocab words the
    # priority encode reproduces the training-table evolution — pinned
    # by tests/test_bpe.py's encode-vs-table equality).
    # subwords_per_word snaps half-up via exact BIGINT arithmetic:
    # floor((2·b·10^4 + w) / (2w)) = round_half_up(b·10^4 / w) — the
    # FLOOR(x·1e4 + 0.5) double form is the FMA-contraction class
    # (CLAUDE.md pearson note).
    return (
        _bpe_chain_sql(table, n_merges)
        + f""", ws AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
           AS ws_tokens
  FROM {table} WHERE text IS NOT NULL
), bt AS MATERIALIZED (
  SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS bpe_tokens
  FROM lvl{n_merges}
), dv AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT s) AS INT) AS distinct_subwords
  FROM (SELECT unnest(syms) AS s FROM lvl{n_merges}) u
)
SELECT n_docs, bpe_tokens, ws_tokens,
       CAST((2 * bpe_tokens * 10000 + ws_tokens) // (2 * ws_tokens) AS DOUBLE)
         / CAST(10000 AS DOUBLE) AS subwords_per_word,
       distinct_subwords
FROM ws CROSS JOIN bt CROSS JOIN dv"""
    )


@register(
    "text_bpe_merges",
    _bpe_merges_oracle("documents"),
    doc="training-data ext: BPE vocabulary learning (Sennrich ACL'16) "
        "— the corpus is touched ONCE (tokenize + word-frequency "
        "groupBy); every merge iteration then runs on the "
        "vocabulary-sized symbol table only (adjacent-pair weighted "
        "counts, deterministic argmax, fold-merge), eager "
        "localCheckpoint per round for O(1) plan depth. Oracle-backed "
        "since r11: the deterministic merge loop replays on DuckDB as "
        "a chained-CTE unroll (AS MATERIALIZED per level — the SSSP "
        "exponential-inline lesson), same technique as "
        "dedup_cluster_canonical; the trainer is additionally pinned "
        "against a pure-Python reference in tests (operators/bpe.py)",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import learn_bpe, merges_frame

    docs = load_table(spark, sf_dir, "documents")
    return merges_frame(spark, learn_bpe(docs, n_merges=12))


@register(
    "text_bpe_encode_stats",
    _bpe_encode_stats_oracle("documents"),
    doc="training-data ext: corpus tokenization with the "
        "BPE vocabulary learned by text_bpe_merges — bpe_encode is the "
        "honest Python stage (priority-merge per word is a data-"
        "dependent loop no JVM expression expresses), Arrow-batched "
        "with a per-partition word cache so Zipf redundancy pays the "
        "kernel cost once per distinct word. Reports corpus compression "
        "(subword tokens vs whitespace tokens) + distinct-subword "
        "usage; losslessness and vocab-membership pinned in tests "
        "(operators/bpe.py). Oracle-backed since r11: DuckDB replays "
        "the merge chain and derives the encoded-token totals from the "
        "final symbol table (Σ freq·len(syms)) — valid because on "
        "in-vocab words the priority encode equals the training-table "
        "evolution (test-pinned)",
)
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.bpe import bpe_encode, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=12)
    enc = bpe_encode(docs, merges)
    ws = docs.filter(F.col("text").isNotNull()).select(
        F.size(F.split(F.lower(F.trim("text")), " ")).alias("__w")
    )
    totals = ws.agg(F.sum("__w").cast("bigint").alias("ws_tokens"))
    # enc feeds two aggregates but is not checkpointed: staging it did
    # not pay (unstaged/staged 0.98× at the 10× tier, 0.77× at 100×;
    # reports/receipts/nockpt_*)
    counts = enc.select(F.size("tokens").alias("__n")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__n").cast("bigint").alias("bpe_tokens"),
    )
    # distinct subwords via explode + countDistinct — vocabulary-bounded
    # shuffle; a collect_list/flatten single-buffer form would
    # materialize the whole token stream in one aggregation buffer
    distinct = enc.select(F.explode("tokens").alias("__t")).agg(
        F.countDistinct("__t").cast("int").alias("distinct_subwords")
    )
    return (
        counts.crossJoin(F.broadcast(distinct))
        .crossJoin(F.broadcast(totals))
        .select(
            "n_docs",
            "bpe_tokens",
            "ws_tokens",
            # 4-decimal snap half-up in exact BIGINT arithmetic:
            # floor((2b·10^4 + w)/(2w)) = round_half_up(b·10^4/w) —
            # F.round on the double ratio would hit the cross-engine
            # FMA/last-ulp class the oracle can't reproduce
            (
                F.expr(
                    "(2 * bpe_tokens * 10000 + ws_tokens) DIV (2 * ws_tokens)"
                ).cast("double")
                / F.lit(10000).cast("double")
            ).alias("subwords_per_word"),
            "distinct_subwords",
        )
    )


def _cooc_docs_sql(engine: str, table: str) -> str:
    """One corpus pass: distinct (doc, token) incidence — the relation
    every later stage reads."""
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return (f"SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, {unnest} AS tok"
            f" FROM {table} WHERE text IS NOT NULL) t")


def _cooc_read_sql(incidence: str) -> str:
    """A-priori passes over the incidence relation: frequent singles
    prune the self-join's input (downward closure — an infrequent token
    can't appear in a frequent pair), then per-doc pair counts with the
    same support cut. Engine-neutral SQL (COUNT/IN only)."""
    return f"""
    , n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM {incidence}),
    f AS (SELECT tok FROM {incidence} GROUP BY tok
          HAVING COUNT(*) * 2 >= (SELECT nd FROM n)),
    fd AS (SELECT doc_id, tok FROM {incidence}
           WHERE tok IN (SELECT tok FROM f)),
    p AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
                 CAST(COUNT(*) AS BIGINT) AS support
          FROM fd a JOIN fd b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY a.tok, b.tok)
    SELECT tok_a, tok_b, support FROM p
    WHERE support * 2 >= (SELECT nd FROM n)
    ORDER BY support DESC, tok_a, tok_b"""


@register(
    "text_cooccurrence_pairs",
    ("WITH d AS (" + _cooc_docs_sql(D.DUCK, "documents") + ")"
     + _cooc_read_sql("d")),
    doc="beyond-reference association mining: frequent token PAIRS at "
        "50% document support — the first two A-priori passes "
        "(frequent singles prune the pair self-join by downward "
        "closure; on a Zipf vocabulary that prune is the whole game, "
        "on the saturated fixture it is a no-op and the per-doc "
        "self-join bound C(distinct_tokens_per_doc, 2) carries the "
        "cost). Incidence relation materialized once on the Spark side "
        "(CTE inlining would re-tokenize the corpus for each of its "
        "four consumers); integer COUNT arithmetic, engine-exact",
)
def text_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_cooc_docs"
    )
    d = spark.sql(
        _cooc_docs_sql(D.SPARK, "bq_cooc_docs")
    # receipt: unstaged/staged 1.52× at sf0.1 (reports/receipts/
    # nockpt_sf0.1_text_support.json; the salted tiers return 0 rows)
    ).localCheckpoint(eager=False)
    d.createOrReplaceTempView("bq_cooc_incidence")
    return spark.sql(
        "WITH d AS (SELECT doc_id, tok FROM bq_cooc_incidence)"
        + _cooc_read_sql("d")
    )


def _assoc_read_sql(incidence: str) -> str:
    """Association rules a→b over the frequent-pair lattice:
    confidence = sup(a,b)/sup(a), lift = nd·sup(a,b)/(sup(a)·sup(b)).
    Both are SINGLE IEEE divisions of exact integers (bit-identical in
    any engine); both rule directions emitted per pair."""
    return f"""
    , n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM {incidence}),
    s1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS sup1 FROM {incidence}
           GROUP BY tok),
    f AS (SELECT tok FROM s1 WHERE sup1 * 2 >= (SELECT nd FROM n)),
    fd AS (SELECT doc_id, tok FROM {incidence}
           WHERE tok IN (SELECT tok FROM f)),
    p AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
                 CAST(COUNT(*) AS BIGINT) AS sup
          FROM fd a JOIN fd b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY a.tok, b.tok
          HAVING COUNT(*) * 2 >= (SELECT nd FROM n)),
    rules AS (
      SELECT tok_a AS ante, tok_b AS cons, sup FROM p
      UNION ALL
      SELECT tok_b AS ante, tok_a AS cons, sup FROM p
    )
    SELECT r.ante, r.cons, r.sup,
           CAST(r.sup AS DOUBLE) / sa.sup1 AS confidence,
           CAST((SELECT nd FROM n) * r.sup AS DOUBLE)
             / CAST(sa.sup1 * sc.sup1 AS DOUBLE) AS lift
    FROM rules r
    JOIN s1 sa ON sa.tok = r.ante
    JOIN s1 sc ON sc.tok = r.cons
    ORDER BY lift DESC, ante, cons
    LIMIT 40"""


@register(
    "text_association_rules",
    ("WITH d AS (" + _cooc_docs_sql(D.DUCK, "documents") + ")"
     + _assoc_read_sql("d")),
    doc="beyond-reference association mining, pass 3: rules a→b over "
        "the frequent-pair lattice with confidence and lift — each a "
        "SINGLE IEEE division of exact integer supports, so the "
        "approximate-looking metrics still hash-match the oracle. "
        "Same materialized-once incidence relation as "
        "text_cooccurrence_pairs; top-40 by lift, deterministic "
        "tiebreak",
)
def text_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_assoc_docs"
    )
    d = spark.sql(
        _cooc_docs_sql(D.SPARK, "bq_assoc_docs")
    # receipt: unstaged/staged 1.85× at sf0.1 (reports/receipts/
    # nockpt_sf0.1_text_support.json; the 10× tier returns 0 rows)
    ).localCheckpoint(eager=False)
    d.createOrReplaceTempView("bq_assoc_incidence")
    return spark.sql(
        "WITH d AS (SELECT doc_id, tok FROM bq_assoc_incidence)"
        + _assoc_read_sql("d")
    )


# -------------------------------------------------- token-entropy quality


def _token_entropy(engine: str, table: str) -> str:
    """Per-doc Shannon token entropy (bits) aggregated per language —
    the diversity face of the Gopher/CCNet quality-signal family
    (low entropy = repetitive/templated text). Cross-engine math: each
    per-doc c·ln(c) term snaps to fixed-point MICRO-NATS (the
    text_unigram_logprob idiom) so the doc sum is exact-integer; the
    per-doc entropy snaps to micro-bits before the per-lang SUM, so no
    raw double ever accumulates."""
    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    return f"""
    WITH toks AS (SELECT doc_id, lang, {unnest} AS tok FROM {table}),
    cnt AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, lang, tok),
    ent AS (SELECT doc_id, lang,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                                       * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                     AS s_micro
            FROM cnt GROUP BY doc_id, lang),
    h AS (SELECT doc_id, lang, n,
                 CAST(FLOOR((LN(CAST(n AS DOUBLE))
                             - CAST(s_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)
                               / CAST(n AS DOUBLE))
                            / LN(CAST(2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                   AS h_micro
          FROM ent)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(h_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_entropy_bits,
           CAST(MIN(h_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS min_entropy_bits,
           CAST(MAX(h_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS max_entropy_bits
    FROM h GROUP BY lang ORDER BY lang"""


@register(
    "text_token_entropy",
    _token_entropy(D.DUCK, "documents"),
    doc="training-data ext: per-doc Shannon token entropy (bits), "
        "profiled per language — the diversity quality signal beside "
        "repetition (curation_repetition) and LM scores "
        "(text_unigram_logprob). H = (ln n − Σ c·ln c / n) / ln 2 over "
        "exact integer token counts; transcendental terms snap to "
        "micro-nat/micro-bit integers so both engines aggregate "
        "bit-identically (one explode + two map-combined aggregates — "
        "no joins, no windows)",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_entropy_docs"
    )
    return spark.sql(_token_entropy(D.SPARK, "bq_entropy_docs"))


# Train/eval vocabulary coverage: the OOV-rate gate a tokenizer/LM prep
# runs before accepting a split — if the eval slice's tokens aren't
# covered by the train slice's vocabulary, metrics on it are
# meaningless. Splits are the content-stable 80/20 hash assignment
# (dataset_split_assign's discipline, never rand()); OOV is a hash
# anti-semantics LEFT JOIN against the train vocabulary, reported per
# language.
_OOV_TOKS = """
SELECT doc_id, lang, ({h}) % 100 AS bucket, {unnest} AS tok
FROM {table} WHERE text IS NOT NULL"""


def _oov_toks_sql(engine: str, table: str) -> str:
    return _OOV_TOKS.format(
        h=D.seeded_h64("CAST(doc_id AS STRING)", 7, engine),
        unnest=D.unnest_col(D.split_ws("lower(trim(text))", engine), engine),
        table=table,
    )


def _oov_read_sql(toks_rel: str) -> str:
    return f"""
    WITH vocab AS (
      SELECT DISTINCT tok FROM {toks_rel} WHERE bucket < 80
    ),
    ev AS (
      SELECT t.lang, t.tok, v.tok AS hit
      FROM {toks_rel} t LEFT JOIN vocab v ON v.tok = t.tok
      WHERE t.bucket >= 80
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS eval_tokens,
           CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS eval_vocab,
           CAST(COUNT(DISTINCT CASE WHEN hit IS NULL THEN tok END)
                AS BIGINT) AS oov_vocab,
           CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM ev GROUP BY lang ORDER BY lang"""


@register(
    "text_oov_rate",
    "WITH toksq AS (" + _oov_toks_sql(D.DUCK, "documents") + "),"
    + _oov_read_sql("toksq").lstrip().removeprefix("WITH"),
    doc="training-data ext: train→eval vocabulary coverage — OOV token "
        "and type rates per language for the content-stable 80/20 hash "
        "split (the split-acceptance gate before LM evaluation). Train "
        "vocabulary is one distinct pass; eval coverage is a LEFT JOIN "
        "on the token (broadcastable vocab at any real SF)",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_oov_docs")
    # no checkpoint on the token pass: materializing it cost more than
    # the re-read it saves (unstaged/staged 0.50× at the 10× tier, 0.14×
    # at 100×; reports/receipts/nockpt_*)
    spark.sql(_oov_toks_sql(D.SPARK, "bq_oov_docs")).createOrReplaceTempView(
        "bq_oov_toks"
    )
    return spark.sql(_oov_read_sql("bq_oov_toks"))


# ------------------------------------------------ language identification
#
# Hashed char-n-gram multinomial language scorer — the langid stage a
# curation pipeline runs before per-language filtering (fastText-style
# model, reduced to its SQL-expressible core: multinomial Naive Bayes
# over hashed character n-grams). The model is TRAINED on the corpus's
# own labeled 80% hash-split slice (the text_oov_rate split, same seed)
# and scores the held-out 20%: score(d, l) = Σ_b c_db·ln P̂(b|l) with
# add-one smoothing over the fixed bucket space. Every ln snaps to
# integer micro-nats (the unigram-logprob idiom) so per-(doc, lang)
# scores are EXACT BIGINTs; argmax is the deterministic max(struct)
# idiom; the confusion-cell avg divides two exact integers once.
#
# Scale shape: ONE corpus pass (position-explode → hash → per-(doc,
# bucket) counts); the model is |langs| × 512 rows (broadcast-sized at
# any SF), eval scoring joins doc-bucket counts against it per
# candidate language.
_LANGID_B = 512  # hashed feature buckets (fixed vocab for add-one)
_LANGID_N = 3    # char n-gram width


def _langid_rows_sql(engine: str, table: str) -> str:
    """Corpus pass, UNGROUPED: one (doc, lang, split-bucket,
    feature-bucket) row per char n-gram occurrence. Positions 1..len-2
    are safe ascending (len >= 3 enforced); the split bucket reuses
    text_oov_rate's seeded h64 so 'train slice' means the same docs
    across queries."""
    split_h = D.seeded_h64("CAST(doc_id AS STRING)", 7, engine)
    gram_h = D.h64(f"substring(s, CAST(i AS INT), {_LANGID_N})", engine)
    pos = D.unnest_col(
        D.iseq("1", f"length(s) - {_LANGID_N - 1}", engine), engine
    )
    return f"""
    SELECT doc_id, lang, sb, ({gram_h}) % {_LANGID_B} AS fb
    FROM (
      SELECT doc_id, lang, sb, s, {pos} AS i
      FROM (
        SELECT doc_id, lang, ({split_h}) % 100 AS sb,
               lower(trim(text)) AS s
        FROM {table}
        WHERE text IS NOT NULL AND length(lower(trim(text))) >= {_LANGID_N}
      ) d
    ) p"""


def _langid_grams_sql(engine: str, table: str) -> str:
    """Per-(doc, lang, split-bucket, feature-bucket) gram counts — the
    oracle's one-shot CTE form (the Spark side aggregates the raw rows
    separately per slice; see text_langid_score)."""
    return f"""
    SELECT doc_id, lang, sb, fb, CAST(COUNT(*) AS BIGINT) AS c
    FROM ({_langid_rows_sql(engine, table)}) r
    GROUP BY doc_id, lang, sb, fb"""


def _langid_model_sql(g: str) -> str:
    """Train-slice model: |langs| x 512 rows — the ONLY train-side
    materialization (per-doc train counts are never needed; the r9
    probe's 300k-doc tier showed the dense per-(doc, bucket) matrix
    checkpoint going superlinear at 78M rows)."""
    return (
        f"SELECT lang AS cand_lang, fb, SUM(c) AS clb"
        f" FROM {g} WHERE sb < 80 GROUP BY lang, fb"
    )


def _langid_ed_sql(g: str) -> str:
    """Eval-slice per-doc bucket counts (20% of the corpus)."""
    return f"SELECT doc_id, lang AS true_lang, fb, c FROM {g} WHERE sb >= 80"


def _langid_read_sql(engine: str, model: str, ed: str, cont: bool = False) -> str:
    # pred_lang via the deterministic struct-argmax idiom (CLAUDE.md):
    # max score wins, ties break toward the LARGEST lang in both engines
    if engine == D.DUCK:
        argmax = "(MAX({'v': score, 'k': cand_lang})).k"
    else:
        argmax = "(MAX(STRUCT(score AS v, cand_lang AS k))).k"
    lead = "," if cont else "WITH"
    return f"""
    {lead} model AS (SELECT * FROM {model}),
    ed AS (SELECT * FROM {ed}),
    langs AS (SELECT DISTINCT cand_lang FROM model),
    lt AS (SELECT cand_lang, SUM(clb) AS nl FROM model GROUP BY cand_lang),
    en AS (SELECT doc_id, SUM(c) AS nd FROM ed GROUP BY doc_id),
    pos AS (
      SELECT ed.doc_id, ed.true_lang, l.cand_lang,
             SUM(ed.c * {_fp_ln('COALESCE(m.clb, 0) + 1')}) AS s_pos
      FROM ed CROSS JOIN langs l
      LEFT JOIN model m ON m.cand_lang = l.cand_lang AND m.fb = ed.fb
      GROUP BY ed.doc_id, ed.true_lang, l.cand_lang
    ),
    sc AS (
      SELECT p.doc_id, p.true_lang, p.cand_lang,
             p.s_pos - en.nd * {_fp_ln(f'lt.nl + {_LANGID_B}')} AS score,
             en.nd AS nd
      FROM pos p
      JOIN lt ON lt.cand_lang = p.cand_lang
      JOIN en ON en.doc_id = p.doc_id
    ),
    pred AS (
      SELECT doc_id, true_lang, {argmax} AS pred_lang,
             MAX(score) AS best, MAX(nd) AS nd
      FROM sc GROUP BY doc_id, true_lang
    )
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(best) AS DOUBLE)
             / (CAST(SUM(nd) AS DOUBLE) * 1000000.0) AS avg_best_logprob
    FROM pred GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang"""


@register(
    "text_langid_score",
    f"WITH gq AS ({_langid_grams_sql(D.DUCK, 'documents')}),\n"
    + f"mq AS ({_langid_model_sql('gq')}),\n"
    + f"eq AS ({_langid_ed_sql('gq')})\n"
    + _langid_read_sql(D.DUCK, "mq", "eq", cont=True),
    doc="training-data ext: hashed char-3-gram multinomial language "
        "scorer — add-one NB trained on the content-stable 80% split, "
        "confusion matrix over the held-out 20% (the langid gate before "
        "per-language curation). Per-(doc,lang) scores are exact BIGINT "
        "micro-nat sums (unigram-logprob idiom), argmax is the "
        "deterministic struct-max. Spark side materializes ONLY the "
        "|langs|x512 model and the eval slice's per-doc bucket counts — "
        "never per-doc train counts (the dense doc x bucket matrix went "
        "superlinear at the 300k-doc probe tier); the oracle keeps the "
        "one-shot per-doc-counts WITH",
)
def text_langid_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_langid_docs")
    return langid_confusion(spark, "bq_langid_docs")


def langid_confusion(spark: SparkSession, docs_view: str) -> DataFrame:
    """Shipped langid plan over any registered (doc_id, lang, text)
    view — shared by the registry query and the discrimination test (the
    r9 scale probe scripts/bench_r9_textops.py drove it too: script
    deleted; numbers stand, RESULTS.md Round 9)."""
    rows = _langid_rows_sql(D.SPARK, docs_view)
    # two tokenize passes (model, eval) — each aggregates map-side to a
    # small frame; both checkpoint lazily because the read SQL references
    # each twice (CTE-inlining class would re-tokenize per reference)
    model = spark.sql(
        f"SELECT lang AS cand_lang, fb, CAST(COUNT(*) AS BIGINT) AS clb"
        f" FROM ({rows}) r WHERE sb < 80 GROUP BY lang, fb"
    # receipt: unstaged/staged 2.04× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json; this builder's 2 stagings A/B'd together)
    ).localCheckpoint(eager=False)
    model.createOrReplaceTempView("bq_langid_model")
    ed = spark.sql(
        f"SELECT doc_id, lang AS true_lang, fb,"
        f" CAST(COUNT(*) AS BIGINT) AS c"
        f" FROM ({rows}) r WHERE sb >= 80 GROUP BY doc_id, lang, fb"
    # receipt: with this builder's first staging (2.04× at 10×)
    ).localCheckpoint(eager=False)
    ed.createOrReplaceTempView("bq_langid_ed")
    return spark.sql(
        _langid_read_sql(D.SPARK, "bq_langid_model", "bq_langid_ed")
    )


# --------------------------------------------- winnowing fingerprints
#
# Document fingerprinting via winnowing (Schleimer/Wilkerson/Aiken,
# SIGMOD'03 — the MOSS algorithm): hash every char k-gram, slide a
# w-hash window, keep each window's MINIMUM hash. The guarantee: any
# shared substring of length >= k + w - 1 between two docs yields at
# least one shared fingerprint, while storage is ~2/(w+1) of the k-gram
# count — the standard copy/boilerplate detector a curation pipeline
# runs beside dedup. Both engines share the text: positions explode,
# portable h64, a per-doc ROWS window MIN (doc-bounded partitions, never
# global), DISTINCT fingerprint sets, then aggregate-only reporting
# (boilerplate = fingerprints appearing in many docs) — no pair join,
# so the fixture's saturated vocabulary can't blow it up.
_WIN_K = 8   # k-gram width (chars)
_WIN_W = 4   # winnowing window (hashes)
_WIN_BOILER_DF = 25  # a fingerprint in > this many docs is boilerplate


def _winnow_fps_sql(engine: str, table: str) -> str:
    """Per-doc DISTINCT winnowing fingerprints (doc_id, source, fp)."""
    h = D.h64(f"substring(s, CAST(i AS INT), {_WIN_K})", engine)
    pos = D.unnest_col(D.iseq("1", f"length(s) - {_WIN_K - 1}", engine), engine)
    return f"""
    SELECT DISTINCT doc_id, source, fp FROM (
      SELECT doc_id, source, i, length(s) AS ln,
             MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS fp
      FROM (
        SELECT doc_id, source, s, i, ({h}) AS kh
        FROM (
          SELECT doc_id, source, s, {pos} AS i
          FROM (
            SELECT doc_id, source, lower(trim(text)) AS s FROM {table}
            WHERE text IS NOT NULL
              AND length(lower(trim(text))) >= {_WIN_K + _WIN_W - 1}
          ) d0
        ) d
      ) kg
    ) w
    WHERE i <= ln - {_WIN_K + _WIN_W - 2}"""


def _winnow_read_sql(fps: str, cont: bool = False) -> str:
    lead = "," if cont else "WITH"
    return f"""
    {lead} dfq AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS d
                   FROM {fps} GROUP BY fp),
    j AS (SELECT f.source, f.doc_id, dfq.d FROM {fps} f
          JOIN dfq ON dfq.fp = f.fp)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS fingerprints,
           CAST(CAST(COUNT(*) AS DOUBLE)
                / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS DOUBLE)
             AS fp_per_doc,
           CAST(SUM(CASE WHEN d > {_WIN_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS boilerplate_hits,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unique_fps
    FROM j GROUP BY source ORDER BY source"""


@register(
    "text_winnowing_fingerprints",
    f"WITH fpq AS ({_winnow_fps_sql(D.DUCK, 'documents')})\n"
    + _winnow_read_sql("fpq", cont=True),
    doc="training-data ext: MOSS-style winnowing document fingerprints "
        "(rolling k-gram hash, per-window minimum — any shared "
        "substring of length >= k+w-1 shares a fingerprint) with "
        "per-source boilerplate profiling (fingerprint doc-frequency "
        "> 25 = boilerplate, = 1 = unique content). Window MIN rides "
        "per-doc partitions; reporting is aggregate-only (no pair "
        "join). Spark side checkpoints the fingerprint set once (df "
        "and the report both read it — CTE-inlining class)",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_winnow_docs")
    # receipt: unstaged/staged 1.43× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json)
    fps = spark.sql(_winnow_fps_sql(D.SPARK, "bq_winnow_docs")).localCheckpoint(
        eager=False
    )
    fps.createOrReplaceTempView("bq_winnow_fps")
    return spark.sql(_winnow_read_sql("bq_winnow_fps"))


# ------------------------------------------ bigram LM self-perplexity
#
# The CCNet-class quality gate (Wenzek et al. 2020): score every doc's
# per-token negative log-likelihood under an n-gram LM and flag the
# high-perplexity tail for review/removal. Here the LM is a bigram
# model with add-one smoothing TRAINED ON THE CORPUS ITSELF
# (self-perplexity — the boilerplate/outlier detector that needs no
# external model): p(w|prev) = (c(prev,w) + 1) / (c(prev) + V), with a
# BOS sentinel context per doc (c(BOS) = #docs, so first tokens score
# against the document-start distribution). Every ln pre-snaps to
# integer micro-nats (_fp_ln), so per-doc NLL sums are exact BIGINTs,
# the outlier gate is an integer comparison (nll > T·n), and only the
# final per-source average divides floats (exact-int operands,
# identical in both engines).
# 3.45 nats/token ≈ perplexity 31.5: the fixture's per-doc avg NLL
# spans 3.27-3.58 (measured), so this bar flags the ~top-decile tail
# and the integer outlier comparison actually FIRES in the oracle
# comparison (a real pipeline tunes this to its corpus — CCNet uses
# the per-language median; any bar above 3.6 would be vacuously zero
# on this 31-word-vocab fixture)
_LM_OUTLIER_MICRO = 3_450_000


def _lm_bi_sql(engine: str, table: str) -> str:
    """The ONE corpus-scale relation: a (doc_id, source, p_h, w_h) row
    per token — w_h the token's portable hash, p_h the previous token's
    (0 = BOS at position 1). Everything downstream is vocabulary- or
    doc-sized, so the Spark side stages exactly this frame (CTE-inlining
    class: counts, vocab, and scoring all re-read it)."""
    ts = D.split_ws("lower(trim(text))", engine)
    cur = D.h64(D.at("ts", "i", engine), engine)
    prv = D.h64(D.at("ts", "i - 1", engine), engine)
    pos = D.unnest_col(D.iseq("1", D.alen("ts", engine), engine), engine)
    return f"""
    SELECT doc_id, source, ({cur}) AS w_h,
           CASE WHEN i = 1 THEN 0 ELSE ({prv}) END AS p_h
    FROM (
      SELECT doc_id, source, ts, {pos} AS i
      FROM (SELECT doc_id, source, {ts} AS ts FROM {table}
            WHERE text IS NOT NULL AND length(trim(text)) >= 1) t0
    ) t"""


def _lm_read_sql(bi: str, cont: bool = False) -> str:
    lead = "," if cont else "WITH"
    return f"""
    {lead} cbi AS (SELECT p_h, w_h, CAST(COUNT(*) AS BIGINT) AS c
                   FROM {bi} GROUP BY p_h, w_h),
    cctx AS (SELECT p_h, CAST(COUNT(*) AS BIGINT) AS c
             FROM {bi} GROUP BY p_h),
    vocab AS (SELECT CAST(COUNT(DISTINCT w_h) AS BIGINT) AS v FROM {bi}),
    scored AS (
      SELECT b.doc_id, b.source,
             {_fp_ln('x.c + vocab.v')} - {_fp_ln('c.c + 1')} AS nll
      FROM {bi} b
      JOIN cbi c ON c.p_h = b.p_h AND c.w_h = b.w_h
      JOIN cctx x ON x.p_h = b.p_h
      CROSS JOIN vocab
    ),
    per_doc AS (
      SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(nll) AS BIGINT) AS nll_micro
      FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n) AS BIGINT) AS tokens,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro_total,
           CAST(SUM(nll_micro) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
             / CAST(1000000 AS DOUBLE) AS avg_nll_nats,
           CAST(SUM(CASE WHEN nll_micro > {_LM_OUTLIER_MICRO} * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS outlier_docs
    FROM per_doc GROUP BY source ORDER BY source"""


@register(
    "text_lm_perplexity",
    f"WITH biq AS ({_lm_bi_sql(D.DUCK, 'documents')})\n"
    + _lm_read_sql("biq", cont=True),
    bench=True,  # r11: promoted to headline (r10 verdict item 4)
    doc="training-data ext: bigram-LM SELF-perplexity quality gate "
        "(CCNet class) — add-one-smoothed bigram model trained on the "
        "corpus itself, per-doc NLL as exact BIGINT micro-nat sums "
        "(_fp_ln idiom), per-source average + integer-compared "
        "high-perplexity outlier count. BOS sentinel context scores "
        "first tokens against the document-start distribution. Spark "
        "side stages the single corpus-scale token/bigram frame once "
        "(lazy localCheckpoint — counts, vocab, and scoring all re-read "
        "it; CTE-inlining class) and merge-hints nothing small: every "
        "count relation is vocabulary-scaled (Heaps' law)",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_lm_docs")
    # receipt: unstaged/staged 2.58× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json)
    bi = spark.sql(_lm_bi_sql(D.SPARK, "bq_lm_docs")).localCheckpoint(eager=False)
    bi.createOrReplaceTempView("bq_lm_bi")
    return spark.sql(_lm_read_sql("bq_lm_bi"))


# ------------------------------------ vocabulary coverage curve (top-V)

_VCC_SIZES = (50, 200, 800)


def _vcc_vocab_sql(engine: str, table: str) -> str:
    """Frequency table over word-BIGRAM types (the unigram vocabulary of
    the synthetic corpus is a degenerate 31 words — every truncation arm
    would read 1.0; bigrams give ~920 types, a real Zipf-ish curve)."""
    toks = D.split_ws("lower(trim(text))", engine)
    pos = D.bigram_positions("__t", engine)
    w1 = D.at("__t", "__i", engine)
    w2 = D.at("__t", "__i + 1", engine)
    return (
        "SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ("
        f"SELECT CONCAT({w1}, ' ', {w2}) AS tok "
        f"FROM (SELECT __t, {pos} AS __i "
        f"      FROM (SELECT {toks} AS __t FROM {table} "
        "            WHERE text IS NOT NULL) t0) p"
        ") g GROUP BY tok"
    )


def _vcc_read_sql(vocab_rel: str) -> str:
    """Share of token OCCURRENCES covered by the top-V most frequent
    types, for the fixed truncation grid — the analytic behind choosing
    a tokenizer/embedding vocabulary size. Scale-sane: each top-V is an
    ORDER BY freq LIMIT V over the VOCAB relation (partition-local
    partial top-V, TakeOrderedAndProject — never a global cumulative
    window over the full vocabulary), and the covered mass is an exact
    BIGINT sum; the one float op per row is the final share division.
    Tie-break at the V boundary is (freq DESC, tok) so the selected SET
    is deterministic cross-engine. Engine-shared text."""
    arms = []
    for v in _VCC_SIZES:
        arms.append(
            f"""SELECT CAST({v} AS BIGINT) AS vocab_budget,
             CAST(SUM(c) AS BIGINT) AS tokens_covered,
             CAST(COUNT(*) AS BIGINT) AS types_used
      FROM (SELECT c, tok FROM {vocab_rel}
            ORDER BY c DESC, tok LIMIT {v}) top{v}"""
        )
    arms_sql = "\n      UNION ALL\n      ".join(arms)
    return f"""
    WITH tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
                        CAST(COUNT(*) AS BIGINT) AS vocab_size,
                        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             AS BIGINT) AS hapax_types
                 FROM {vocab_rel}),
    arms AS (
      {arms_sql}
    )
    SELECT a.vocab_budget, a.types_used, a.tokens_covered,
           t.total_tokens, t.vocab_size, t.hapax_types,
           CAST(a.tokens_covered AS DOUBLE)
             / CAST(t.total_tokens AS DOUBLE) AS coverage_share
    FROM arms a CROSS JOIN tot t
    ORDER BY a.vocab_budget"""


@register(
    "text_vocab_coverage",
    "WITH vccq AS (" + _vcc_vocab_sql(D.DUCK, "documents") + "),"
    + _vcc_read_sql("vccq").lstrip().removeprefix("WITH"),
    doc="training-data ext: vocabulary coverage curve — share of token "
        "occurrences covered by the top-V frequency-ranked types for a "
        "fixed truncation grid, plus vocab size and hapax count (the "
        "tokenizer/embedding vocab-sizing analytic beside text_oov_rate's "
        "split gate). Each arm is a partial top-V over the vocab "
        "relation (TakeOrderedAndProject — no global cumulative window); "
        "covered mass is an exact BIGINT sum, one final share division; "
        "the Spark side stages the one tokenize pass (CTE-inlining "
        "class: totals + 3 arms all read the vocab relation)",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_vcc_docs")
    # receipt: unstaged/staged 1.14× at 10×
    # (reports/receipts/nockpt_10x_stats_text.json)
    vocab = spark.sql(_vcc_vocab_sql(D.SPARK, "bq_vcc_docs")).localCheckpoint(
        eager=False
    )
    vocab.createOrReplaceTempView("bq_vcc_vocab")
    return spark.sql(_vcc_read_sql("bq_vcc_vocab"))
