"""Corpus-curation queries (training-data pipeline extensions):
benchmark decontamination, repetition filtering, PII scrubbing, and
domain-mixture sampling — the passes between dedup and packing.

Oracle-checked flavors of ``operators/curation.py``: each renders the
same template for Spark and DuckDB (dialect.py), with the portable md5
hash where the scale path uses xxhash64. Determinism rules follow
functions/compat.py: counts stay integral, doubles are compared or
divided per-row (never accumulated), hash sampling uses the portable
h64.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import curation
from ..sources.tables import load_table
from . import dialect as D
from .registry import register


def _run_rendered(spark: SparkSession, sf_dir: str, table: str, render, view: str) -> DataFrame:
    load_table(spark, sf_dir, table).createOrReplaceTempView(view)
    return spark.sql(render(D.SPARK, view))


def _word_ngrams(engine: str, n: int, arr: str = "__t") -> str:
    """Word-n-gram array over token-array column ``arr`` (occurrences,
    NOT distinct — callers dedupe relationally where it matters). The
    position sequence is filtered to in-range starts so docs with < n
    tokens degrade to an empty set instead of tripping Spark's ANSI
    ARRAY_INDEX_OUT_OF_BOUNDS."""
    alen = D.alen(arr, engine)
    seq = D.iseq("1", f"greatest({alen} - {n - 1}, 1)", engine)
    valid = D.arr_filter(seq, f"i -> i + {n - 1} <= {alen}", engine)
    idx = [D.at(arr, f"i + {j}", engine) for j in range(n)]
    sep = ", ' ', "
    return D.transform(valid, f"i -> concat({sep.join(idx)})", engine)


# ------------------------------------------------------- decontamination


def _decontaminate(engine: str, table: str) -> str:
    toks = D.split_ws("trim(text)", engine)
    grams = _word_ngrams(engine, 3)
    gram_rows = D.unnest_col("gs", engine)
    return f"""
    WITH t AS (SELECT doc_id, source, {toks} AS __t FROM {table}),
    g AS (SELECT doc_id, source, {grams} AS gs FROM t),
    bg AS (SELECT DISTINCT gram FROM
             (SELECT {gram_rows} AS gram FROM g WHERE doc_id % 50 = 0) b),
    cg AS (SELECT doc_id, {gram_rows} AS gram FROM g WHERE doc_id % 50 <> 0),
    hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gram = bg.gram),
    corpus AS (SELECT doc_id, source FROM g WHERE doc_id % 50 <> 0)
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS corpus_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS clean_docs
    FROM corpus c LEFT JOIN hit h ON c.doc_id = h.doc_id
    GROUP BY c.source"""


@register(
    "curation_decontaminate",
    _decontaminate(D.DUCK, "documents"),
    doc="training-data ext: eval-set decontamination — docs sharing any "
        "word-3-gram with the (deterministic doc_id%50) benchmark slice, "
        "per-source contamination counts; scale path broadcasts the hashed "
        "benchmark gram set (operators/curation.py)",
    bench=True,
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Native Spark side (oracle above renders the same semantics for
    # DuckDB): exploded positions + element_at keep gram building in
    # whole-stage codegen — the rendered transform() lambda formulation
    # is interpreted and ran 4.7 s at sf0.1 vs ~1 s for this shape. The
    # join stays on exact gram STRINGS (matching the oracle bit-for-bit;
    # the hashed-gram production path is operators/curation.decontaminate).
    docs = load_table(spark, sf_dir, "documents")
    # small-file scans arrive as ONE split; spread the gram map stage
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    grams = curation.word_ngram_rows(
        docs.select("doc_id", "text"), n=3, lower=False
    )
    bench_g = grams.filter(F.col("doc_id") % 50 == 0).select("__gram").distinct()
    hits = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench_g), "__gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "source")
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("corpus_docs"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0)).alias(
                "contaminated_docs"
            ),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("clean_docs"),
        )
    )


# --------------------------------------------------- repetition filtering


def _rep_m_sql(engine: str, table: str) -> str:
    """The one corpus pass: per-doc token/distinct counts + bigram array."""
    toks = D.split_ws("lower(trim(text))", engine)
    bigrams = _word_ngrams(engine, 2)
    return (
        f"SELECT doc_id, lang, {D.alen('__t', engine)} AS n_tokens, "
        f"{D.alen(D.arr_distinct('__t', engine), engine)} AS distinct_tokens, "
        f"{bigrams} AS gs "
        f"FROM (SELECT doc_id, lang, {toks} AS __t FROM {table}) t"
    )


def _rep_read_sql(engine: str, m_table: str, cont: bool = False) -> str:
    gram_rows = D.unnest_col("gs", engine)
    head = "," if cont else "WITH"
    return f"""
    {head} bgc AS (SELECT doc_id, gram, COUNT(*) AS c FROM
              (SELECT doc_id, {gram_rows} AS gram FROM {m_table}) x
            GROUP BY doc_id, gram),
    tb AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bgc GROUP BY doc_id)
    SELECT m.doc_id, m.lang,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(distinct_tokens AS INT) AS distinct_tokens,
           CAST(top_bigram_n AS INT) AS top_bigram_n,
           1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens AS dup_word_frac,
           2.0 * CAST(top_bigram_n AS DOUBLE) / n_tokens AS top_bigram_frac,
           CAST(CASE WHEN 1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens > 0.65
                       OR 2.0 * CAST(top_bigram_n AS DOUBLE) / n_tokens > 0.15
                     THEN 1 ELSE 0 END AS INT) AS repetitive
    FROM {m_table} m JOIN tb ON m.doc_id = tb.doc_id"""


@register(
    "curation_repetition",
    f"WITH m AS ({_rep_m_sql(D.DUCK, 'documents')})\n"
    + _rep_read_sql(D.DUCK, "m", cont=True),
    doc="training-data ext: Gopher-style repetition profile per doc — "
        "duplicate-word fraction + most-frequent-bigram mass with flag "
        "thresholds (0.65 / 0.15, ~p90 of the corpus); identical per-row "
        "double arithmetic in both engines. Spark side stages the one "
        "corpus pass (interpreted arr_distinct + bigram arrays) behind a "
        "lazy localCheckpoint view — the m CTE is referenced by the "
        "bigram explode AND the final join, the CTE-inlining class "
        "(6.1 → 0.7 s at sf0.1, r11); the scan is also repartitioned "
        "off the 1-partition single-file layout",
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_rep_docs")
    # receipt: unstaged/staged 16.11× at 10×
    # (reports/receipts/nockpt_10x_curation.json)
    m = spark.sql(_rep_m_sql(D.SPARK, "bq_rep_docs")).localCheckpoint(eager=False)
    m.createOrReplaceTempView("bq_rep_m")
    return spark.sql(_rep_read_sql(D.SPARK, "bq_rep_m"))


# --------------------------------------------------------- PII scrubbing


_EMAIL_PAT = "[a-z0-9._]+@[a-z0-9.]+"
_PHONE_PAT = "555-[0-9]{4}"


def _pii_scrub(engine: str, table: str) -> str:
    # Deterministic PII injection (the synthetic corpus carries none):
    # every 7th doc gains an email, every 11th a phone — so the scrubber
    # has real work and exact expected counts.
    email = "concat(text, ' contact user', doc_id, '@example.com')"
    aug = (
        f"CASE WHEN doc_id % 7 = 0 THEN {email} ELSE text END"
    )
    aug = (
        f"CASE WHEN doc_id % 11 = 0 THEN concat({aug}, ' call 555-', "
        f"lpad(concat('', doc_id % 10000), 4, '0')) ELSE {aug} END"
    )
    scrubbed = D.re_replace_all(
        D.re_replace_all("aug_text", _EMAIL_PAT, "<EMAIL>", engine),
        _PHONE_PAT, "<PHONE>", engine,
    )
    n_email = D.alen(D.re_extract_all("aug_text", _EMAIL_PAT, engine), engine)
    n_phone = D.alen(D.re_extract_all("aug_text", _PHONE_PAT, engine), engine)
    return f"""
    WITH a AS (SELECT doc_id, source, {aug} AS aug_text FROM {table}),
    s AS (SELECT doc_id, source, aug_text,
                 {scrubbed} AS clean_text,
                 {n_email} AS n_email, {n_phone} AS n_phone
          FROM a)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(aug_text) - length(clean_text)) AS BIGINT) AS chars_removed
    FROM s GROUP BY source"""


@register(
    "curation_pii_scrub",
    _pii_scrub(D.DUCK, "documents"),
    doc="training-data ext: PII redaction pass — regex scrub of "
        "deterministically injected emails/phones with per-source match and "
        "removed-char accounting; scale path is the same codegen "
        "regexp_replace chain (operators/curation.scrub_pii)",
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _pii_scrub, "bq_pii_docs")


# --------------------------------------------- domain-mixture sampling


def _domain_mixture(engine: str, table: str) -> str:
    # Target weight per domain: proportional to the numeric source
    # suffix + 1 (src0 lightest … src19 heaviest, summing to 1 over the
    # 20 sources) — a deterministic stand-in for a configured mixture.
    # CAST the divisor: a bare 210.0 literal is DECIMAL in Spark (decimal
    # division truncates scale) but double-ish in DuckDB's division
    w_s = "(CAST(substring(source, 4) AS INT) + 1) / CAST(210 AS DOUBLE)"
    keep = D.h64("concat('mix#', doc_id)", engine)
    head = (
        f"WITH n AS (SELECT source, COUNT(*) AS n_s FROM {table} "
        f"GROUP BY source),\n"
        f"    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM {table}),"
    )
    return f"""
    {head}
    th AS (SELECT source, n_s, {w_s} AS w_s,
                  CAST(FLOOR(LEAST(1.0, {w_s} * t / n_s) * 1000000) AS BIGINT) AS thr
           FROM n CROSS JOIN tot),
    k AS (SELECT d.source, COUNT(*) AS kept
          FROM {table} d JOIN th ON d.source = th.source
          WHERE {keep} % 1000000 < th.thr
          GROUP BY d.source)
    SELECT th.source,
           CAST(th.n_s AS BIGINT) AS available,
           CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept,
           th.w_s AS target_weight
    FROM th LEFT JOIN k ON th.source = k.source"""


@register(
    "curation_domain_mixture",
    _domain_mixture(D.DUCK, "documents"),
    doc="training-data ext: deterministic domain-mixture downsample — "
        "per-source keep-fraction min(1, w·T/n) applied as a portable-hash "
        "bucket on doc_id (reproducible, append-stable); scale path "
        "broadcasts the fractions table (operators/curation.domain_mixture_sample)",
)
def curation_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_mix_docs"
    )
    # one-shot WITH deliberately (r12 staging REVERTED r13): the count
    # frame's consumers all sit above the same (source)-keyed aggregate
    # exchange, which runtime exchange reuse already dedups — the staged
    # checkpoint only added a job boundary and measured 0.84–0.87×
    # at the 10×/100× salted tiers (scripts/bench_r13_scale_receipts.py)
    # That ratio came from a no-op patch: both arms ran the staged code,
    # so it is noise (OPTIMIZATION_r13 §5 annotation).
    return spark.sql(_domain_mixture(D.SPARK, "bq_mix_docs"))


# ------------------------------------ duplicated-span detection (ExactSubstr class)

_SPAN_K = 8


def _duplicated_spans(engine: str, table: str, k: int = _SPAN_K) -> str:
    """Repeated k-token PASSAGES across the corpus (the ExactSubstr /
    boilerplate class near-dup DOC matching misses): every k-token
    window occurring at more than one (doc, pos) globally marks its
    positions, per-doc marked windows merge into maximal spans
    (gaps-and-islands: coverage [p, p+k-1] fuses when starts are ≤ k
    apart), and docs report span count / covered tokens / fraction."""
    if engine == D.DUCK:
        split = "string_split(lower(trim(text)), ' ')"
        n_tok = "len(ts)"
        pos = f"unnest(range(1, len(ts) - {k} + 2))"
        w = f"array_to_string(list_slice(ts, pos, pos + {k} - 1), ' ')"
    else:
        split = "split(lower(trim(text)), ' ')"
        n_tok = "size(ts)"
        pos = f"explode(sequence(1, size(ts) - {k} + 1))"
        w = f"array_join(slice(ts, pos, {k}), ' ')"
    return f"""
    WITH toks AS (SELECT doc_id, {split} AS ts FROM {table}),
    positions AS (
      SELECT doc_id, ts, {pos} AS pos FROM toks WHERE {n_tok} >= {k}
    ),
    win AS (SELECT doc_id, pos, {w} AS w FROM positions),
    marked AS (
      SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM win
    ),
    dup_pos AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM marked WHERE c > 1
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM dup_pos
    ),
    spans AS (
      SELECT doc_id, island,
             CAST(MIN(pos) AS BIGINT) AS s,
             CAST(MAX(pos) + {k} - 1 AS BIGINT) AS e
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, CAST({n_tok} AS BIGINT) AS n_tokens FROM toks)
    SELECT p.doc_id, z.n_tokens, p.dup_spans, p.dup_tokens,
           CAST(p.dup_tokens AS DOUBLE) / z.n_tokens AS dup_frac
    FROM per_doc p JOIN sizes z ON p.doc_id = z.doc_id"""


@register(
    "curation_duplicated_spans",
    _duplicated_spans(D.DUCK, "documents"),
    doc="training-data ext: ExactSubstr-class duplicated-PASSAGE "
        "detection — k-token windows repeated anywhere in the corpus "
        "(window COUNT over the window string: one pass, no self-join), "
        "merged per doc into maximal spans via gaps-and-islands; "
        "reports spans / covered tokens / coverage fraction per "
        "affected doc. The boilerplate slice doc-level near-dup can't "
        "see; operators/curation.duplicated_spans is the xxhash64 scale "
        "twin (windows shuffle as 8-byte hashes, equivalence-pinned)",
)
def curation_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _duplicated_spans, "bq_span_docs"
    )


def _top_passages(engine: str, table: str, k: int = _SPAN_K, topn: int = 20) -> str:
    """The boilerplate REPORT twin of duplicated-span detection: which
    k-token passages repeat most, how often, and across how many docs —
    the list a curation pass actually reviews before stripping."""
    if engine == D.DUCK:
        split = "string_split(lower(trim(text)), ' ')"
        n_tok = "len(ts)"
        pos = f"unnest(range(1, len(ts) - {k} + 2))"
        w = f"array_to_string(list_slice(ts, pos, pos + {k} - 1), ' ')"
    else:
        split = "split(lower(trim(text)), ' ')"
        n_tok = "size(ts)"
        pos = f"explode(sequence(1, size(ts) - {k} + 1))"
        w = f"array_join(slice(ts, pos, {k}), ' ')"
    return f"""
    WITH toks AS (SELECT doc_id, {split} AS ts FROM {table}),
    positions AS (
      SELECT doc_id, ts, {pos} AS pos FROM toks WHERE {n_tok} >= {k}
    ),
    win AS (SELECT doc_id, {w} AS w FROM positions)
    SELECT w AS passage,
           CAST(COUNT(*) AS BIGINT) AS occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM win GROUP BY w HAVING COUNT(*) > 1
    ORDER BY occurrences DESC, passage LIMIT {topn}"""


@register(
    "curation_top_passages",
    _top_passages(D.DUCK, "documents"),
    doc="training-data ext: the review REPORT for duplicated-span "
        "curation — top-20 most-repeated k-token passages with "
        "occurrence and doc-spread counts (group-agg + "
        "TakeOrderedAndProject; deterministic passage tiebreak). At "
        "scale the heavy group-by runs on window HASHES and only the "
        "surviving top-N map back to strings — here the string form is "
        "the shared oracle text",
)
def curation_top_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _top_passages, "bq_passage_docs"
    )


def _span_dedup(engine: str, table: str, k: int = _SPAN_K) -> str:
    """Cross-document repeated-substring REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr), suffix-hash-block relaxation: instead of a corpus
    suffix array, every k-token window gets a global occurrence rank
    (ROW_NUMBER over (doc_id, pos) — the FIRST occurrence corpus-wide
    is canonical and survives); every NON-canonical occurrence of a
    duplicated window marks its k positions for removal, marks merge
    into maximal spans per doc (gaps-and-islands), and the report
    aggregates per source: docs affected, tokens removed, removal
    fraction. Window granularity means runs shorter than k tokens
    never match (the standard winnowing/ExactSubstr floor) and the
    kept copy is canonical per WINDOW, not per merged span — a crisp,
    deterministic relaxation that needs no suffix array.

    row_number CAST per CLAUDE.md (int in Spark, BIGINT in DuckDB);
    the removal fraction is one double division of exact integers."""
    if engine == D.DUCK:
        split = "string_split(lower(trim(text)), ' ')"
        n_tok = "len(ts)"
        pos = f"unnest(range(1, len(ts) - {k} + 2))"
        w = f"array_to_string(list_slice(ts, pos, pos + {k} - 1), ' ')"
    else:
        split = "split(lower(trim(text)), ' ')"
        n_tok = "size(ts)"
        pos = f"explode(sequence(1, size(ts) - {k} + 1))"
        w = f"array_join(slice(ts, pos, {k}), ' ')"
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {split} AS ts FROM {table} WHERE text IS NOT NULL
    ),
    sizes AS (
      SELECT doc_id, source, CAST({n_tok} AS BIGINT) AS n_tokens FROM toks
    ),
    positions AS (
      SELECT doc_id, ts, {pos} AS pos FROM toks WHERE {n_tok} >= {k}
    ),
    win AS (SELECT doc_id, pos, {w} AS w FROM positions),
    occ AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY w) AS c,
             CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, pos)
                  AS BIGINT) AS rk
      FROM win
    ),
    rm AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM occ WHERE c > 1 AND rk > 1
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM rm
    ),
    spans AS (
      SELECT doc_id, island,
             CAST(MIN(pos) AS BIGINT) AS s,
             CAST(MAX(pos) + {k} - 1 AS BIGINT) AS e
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rm_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS rm_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT z.source,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(COUNT(p.doc_id) AS BIGINT) AS docs_affected,
           CAST(SUM(z.n_tokens) AS BIGINT) AS tokens_total,
           CAST(COALESCE(SUM(p.rm_tokens), 0) AS BIGINT) AS tokens_removed,
           CAST(COALESCE(SUM(p.rm_spans), 0) AS BIGINT) AS spans_removed,
           CAST(COALESCE(SUM(p.rm_tokens), 0) AS DOUBLE) / SUM(z.n_tokens)
             AS removal_frac
    FROM sizes z LEFT JOIN per_doc p ON z.doc_id = p.doc_id
    GROUP BY z.source ORDER BY z.source"""


@register(
    "curation_span_dedup",
    _span_dedup(D.DUCK, "documents"),
    bench=True,  # r11: promoted to headline (r10 verdict item 4)
    doc="training-data ext: cross-document repeated-substring REMOVAL "
        "(Lee et al. ExactSubstr class, suffix-hash windows instead of "
        "a suffix array) — completes the dedup family: doc-level exact, "
        "near-dup (MinHash/SimHash/SSJoin), and now span-level. Every "
        "duplicated k-token window keeps its corpus-wide FIRST "
        "occurrence; other occurrences mark their positions, marks "
        "merge to maximal spans, and the per-source report counts "
        "docs affected / tokens removed / removal fraction. "
        "operators/curation.span_dedup_remove is the xxhash64 scale "
        "twin that also rebuilds the cleaned text (equivalence-pinned)",
)
def curation_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _span_dedup, "bq_spandedup_docs"
    )


# ------------------------------------- end-to-end composed curation pipeline


# ------------------------------------------- model-based quality filter
#
# Logistic quality-classifier inference (operators/curation.
# quality_logistic_scores is the xxhash64 production path): hashed
# bag-of-words features, weights as a LITERAL 64-row table (the shape an
# offline trainer ships), exact BIGINT nano dot product, length
# normalization by integer division. The keep gate is z_nano >= 0
# (⟺ sigmoid >= 0.5) — transcendental-free, so per-doc decisions are
# engine-exact; the only float is ONE snapped sigmoid per source row.

_QS_B = 64
_QS_BIAS_NANO = 0


def _qw_nano(b: int) -> int:
    """Deterministic stand-in for trained weights: stable md5-derived
    integer nanos in [-2e9, 2e9] (±2.0). The inference path under test
    is weight-agnostic; tests additionally pin discrimination with
    hand-built weights on a constructed corpus."""
    import hashlib

    h = int(hashlib.md5(f"qw#{b}".encode()).hexdigest()[:15], 16)
    return (h % 4_000_000_001) - 2_000_000_000


_QS_ROWS = ", ".join(f"({b}, {_qw_nano(b)})" for b in range(_QS_B))


def _qs_weights_cte(engine: str) -> str:
    """`w(fb, w_nano)` as a CTE body — inline-table syntax differs."""
    if engine == D.DUCK:
        return f"SELECT * FROM (VALUES {_QS_ROWS}) t(fb, w_nano)"
    return f"SELECT * FROM VALUES {_QS_ROWS} AS t(fb, w_nano)"


def _quality_score(engine: str, table: str) -> str:
    from .stats_ops import _snap9

    unnest = D.unnest_col(D.split_ws("lower(trim(text))", engine), engine)
    avg_z = (
        "CAST(SUM(z_nano) AS DOUBLE)"
        " / (CAST(COUNT(*) AS DOUBLE) * CAST(1000000000 AS DOUBLE))"
    )
    sig = f"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + EXP(-({avg_z})))"
    return f"""
    WITH w AS ({_qs_weights_cte(engine)}),
    toks AS (SELECT doc_id, source, {unnest} AS tok
             FROM {table} WHERE text IS NOT NULL),
    fc AS (SELECT doc_id, source, ({D.h64('tok', engine)}) % {_QS_B} AS fb,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM toks GROUP BY doc_id, source, fb),
    d AS (SELECT fc.doc_id, fc.source,
                 SUM(fc.c * w.w_nano) AS dot, SUM(fc.c) AS nd
          FROM fc JOIN w ON w.fb = fc.fb
          GROUP BY fc.doc_id, fc.source),
    z AS (SELECT doc_id, source, nd,
                 {D.idiv('dot', 'nd', engine)} + {_QS_BIAS_NANO} AS z_nano
          FROM d)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN z_nano >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           {avg_z} AS avg_z,
           {_snap9(sig, 'mean_sigmoid')}
    FROM z GROUP BY source ORDER BY source"""


@register(
    "curation_quality_score",
    _quality_score(D.DUCK, "documents"),
    doc="training-data ext: model-based quality-classifier inference — "
        "logistic scoring over hashed bag-of-words features with the "
        "weight table an offline trainer ships (literal 64-row VALUES "
        "relation, broadcast at scale). Dot product and length "
        "normalization are exact BIGINT nanos; the keep gate is the "
        "integer comparison z_nano >= 0 (sigmoid >= 0.5), so per-doc "
        "decisions hash-match across engines; one snapped sigmoid per "
        "source row is the only transcendental. Production path: "
        "operators/curation.quality_logistic_scores (xxhash64)",
)
def curation_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # single-file scan = ONE partition; the explode+md5 map stage
    # inherits it without this (working-notes REGISTRY pitfall)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_quality_docs")
    return spark.sql(_quality_score(D.SPARK, "bq_quality_docs"))


def _pipeline_full(engine: str, table: str) -> str:
    """The five oracle-checked stages composed into ONE statement:
    PII-injected input → decontaminate (word-3-gram overlap with the
    doc_id%50 benchmark slice) → drop repetitive (Gopher 0.65/0.15) →
    model-based quality gate (curation_quality_score's integer-exact
    z_nano >= 0 logistic decision — r8 verdict missing #4) → PII scrub
    → equal-weight domain mixture downsample to 25% of the ORIGINAL
    corpus; reports per-stage surviving docs/chars. Converted from
    rows-only in r7 (VERDICT r6 task 2): the composition is plain SQL
    when each stage is."""
    toks = D.split_ws("lower(trim(text))", engine)
    g3 = _word_ngrams(engine, 3)
    g2 = _word_ngrams(engine, 2)
    gram_rows = D.unnest_col("gs", engine)
    email = "concat(text, ' contact user', doc_id, '@example.com')"
    aug = f"CASE WHEN doc_id % 7 = 0 THEN {email} ELSE text END"
    aug = (
        f"CASE WHEN doc_id % 11 = 0 THEN concat({aug}, ' call 555-', "
        f"lpad(concat('', doc_id % 10000), 4, '0')) ELSE {aug} END"
    )
    scrub = D.re_replace_all(
        D.re_replace_all("text", _EMAIL_PAT, "<EMAIL>", engine),
        _PHONE_PAT, "<PHONE>", engine,
    )
    keep = D.h64("concat('mixfull#', doc_id)", engine)
    stage = (
        "SELECT {no} AS stage_no, '{name}' AS stage, "
        "CAST(COUNT(*) AS BIGINT) AS docs, "
        "CAST(SUM(length(text)) AS BIGINT) AS chars FROM {rel}"
    )
    return f"""
    WITH base AS (SELECT doc_id, source, {aug} AS text FROM {table}),
    corpus AS (SELECT * FROM base WHERE doc_id % 50 <> 0),
    ct AS (SELECT doc_id, source, text, {toks} AS __t FROM corpus),
    bt AS (SELECT doc_id, {toks} AS __t FROM base WHERE doc_id % 50 = 0),
    bg AS (SELECT DISTINCT gram FROM
             (SELECT {gram_rows} AS gram FROM
                (SELECT {g3} AS gs FROM bt) bx) by_),
    cg AS (SELECT doc_id, {gram_rows} AS gram FROM
             (SELECT doc_id, {g3} AS gs FROM ct) cx),
    hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gram = bg.gram),
    s1 AS (SELECT ct.doc_id, ct.source, ct.text, ct.__t
           FROM ct LEFT JOIN hit ON ct.doc_id = hit.doc_id
           WHERE hit.doc_id IS NULL),
    m AS (SELECT doc_id, {D.alen('__t', engine)} AS n_tokens,
                 {D.alen(D.arr_distinct('__t', engine), engine)} AS distinct_tokens,
                 {g2} AS gs
          FROM s1),
    bgc AS (SELECT doc_id, gram, COUNT(*) AS c FROM
              (SELECT doc_id, {gram_rows} AS gram FROM m) mx
            GROUP BY doc_id, gram),
    tb AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bgc GROUP BY doc_id),
    rep AS (SELECT m.doc_id FROM m JOIN tb ON m.doc_id = tb.doc_id
            WHERE 1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens > 0.65
               OR 2.0 * CAST(top_bigram_n AS DOUBLE) / n_tokens > 0.15),
    s2 AS (SELECT s1.doc_id, s1.source, s1.text, s1.__t
           FROM s1 LEFT JOIN rep ON s1.doc_id = rep.doc_id
           WHERE rep.doc_id IS NULL),
    w AS ({_qs_weights_cte(engine)}),
    qfc AS (SELECT doc_id, ({D.h64('tok', engine)}) % {_QS_B} AS fb,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, {D.unnest_col('__t', engine)} AS tok
                  FROM s2) tq
            GROUP BY doc_id, fb),
    qk AS (SELECT qfc.doc_id FROM qfc JOIN w ON w.fb = qfc.fb
           GROUP BY qfc.doc_id
           HAVING {D.idiv('SUM(qfc.c * w.w_nano)', 'SUM(qfc.c)', engine)}
                  + {_QS_BIAS_NANO} >= 0),
    s2q AS (SELECT s2.doc_id, s2.source, s2.text
            FROM s2 JOIN qk ON s2.doc_id = qk.doc_id),
    s3 AS (SELECT doc_id, source, {scrub} AS text FROM s2q),
    kd AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS k FROM corpus),
    td AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM corpus),
    nd AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_s FROM s3 GROUP BY source),
    th AS (SELECT source,
                  CAST(FLOOR(LEAST(1.0, t / CAST(4 AS DOUBLE) / k / n_s)
                             * 1000000) AS BIGINT) AS thr
           FROM nd CROSS JOIN td CROSS JOIN kd),
    s4 AS (SELECT s3.doc_id, s3.source, s3.text
           FROM s3 JOIN th ON s3.source = th.source
           WHERE {keep} % 1000000 < th.thr)
    SELECT * FROM (
      {stage.format(no=0, name='input', rel='corpus')}
      UNION ALL {stage.format(no=1, name='decontaminated', rel='s1')}
      UNION ALL {stage.format(no=2, name='derepetition', rel='s2')}
      UNION ALL {stage.format(no=3, name='quality_filtered', rel='s2q')}
      UNION ALL {stage.format(no=4, name='pii_scrubbed', rel='s3')}
      UNION ALL {stage.format(no=5, name='mixture_sampled', rel='s4')}
    ) stages ORDER BY stage_no"""


@register(
    "curation_pipeline_full",
    _pipeline_full(D.DUCK, "documents"),
    doc="training-data ext: the END-TO-END curation chain — deterministic "
        "PII injection → decontaminate (broadcast benchmark grams) → drop "
        "repetitive (Gopher thresholds) → PII scrub → equal-weight "
        "domain-mixture downsample to 25% of the original corpus — "
        "reporting per-stage surviving docs/chars. Composes the four "
        "individually oracle-checked stages (operators/curation.py); "
        "oracle-backed since r7 via the portable h64 sampler",
)
def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    # deterministic PII injection (the synthetic corpus carries none) —
    # same expressions as the curation_pii_scrub oracle
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.col("text"))
    aug = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            aug,
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(aug)
    base = docs.select("doc_id", "source", aug.alias("text"))
    # lazy checkpoint at the fan-out frontier (CLAUDE.md: corpus feeds the
    # gram map, the anti-join, two scalar anchors, and its own stage agg —
    # Spark would otherwise recompute the injected-text scan per branch);
    # lazy = materializes inside the first action, so bench timing is honest
    # receipt: unstaged/staged 1.18× at 10×
    # (reports/receipts/nockpt_10x_curation.json; this builder's 5 stagings A/B'd together)
    corpus = base.filter(F.col("doc_id") % 50 != 0).localCheckpoint(eager=False)
    bench = base.filter(F.col("doc_id") % 50 == 0)

    # stage 1: decontaminate on gram STRINGS (codegen explode form —
    # matches the oracle bit-for-bit; production path hashes + broadcasts,
    # operators/curation.decontaminate)
    bench_g = (
        curation.word_ngram_rows(bench, n=3).select("__gram").distinct()
    )
    hit = (
        curation.word_ngram_rows(corpus.select("doc_id", "text"), n=3)
        .join(F.broadcast(bench_g), "__gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # receipt: with this builder's first staging (1.18× at 10×)
    s1 = corpus.join(hit, "doc_id", "left_anti").localCheckpoint(eager=False)

    # stage 2: Gopher repetition filter (operators/curation.drop_repetitive;
    # xxhash64 distinct-token counting ≡ string-distinct up to the accepted
    # 2^-64 collision class)
    # receipt: with this builder's first staging (1.18× at 10×)
    s2 = curation.drop_repetitive(s1).localCheckpoint(eager=False)

    # stage 3: model-based quality gate — the h64-rendered twin of
    # operators/curation.quality_logistic_scores; the keep decision is
    # the integer comparison z_nano >= 0, so it composes engine-exactly
    wdf = spark.createDataFrame(
        [(b, _qw_nano(b)) for b in range(_QS_B)], "fb INT, w_nano BIGINT"
    )
    qfc = (
        s2.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("__tok"),
        )
        .select("doc_id", (F.expr(D.h64("__tok", D.SPARK)) % _QS_B).alias("fb"))
        .groupBy("doc_id", "fb")
        .agg(F.count("*").alias("c"))
    )
    qk = (
        qfc.join(F.broadcast(wdf), "fb")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w_nano")).alias("dot"),
            F.sum("c").alias("nd"),
        )
        .filter(F.expr(f"dot DIV nd + {_QS_BIAS_NANO} >= 0"))
        .select("doc_id")
    )
    s2q = (
        s2.join(qk, "doc_id")
        .select("doc_id", "source", "text")
        # receipt: with this builder's first staging (1.18× at 10×)
        .localCheckpoint(eager=False)
    )

    # stage 4: PII scrub with the oracle's patterns
    s3 = (
        curation.scrub_pii(
            s2q,
            patterns=(
                ("email", _EMAIL_PAT, "<EMAIL>"),
                ("phone", _PHONE_PAT, "<PHONE>"),
            ),
        )
        .select("doc_id", "source", "text")
        # receipt: with this builder's first staging (1.18× at 10×)
        .localCheckpoint(eager=False)
    )

    # stage 5: equal-weight mixture targeting 25% of the ORIGINAL corpus
    kd = corpus.select("source").distinct().agg(
        F.count("*").cast("double").alias("k")
    )
    td = corpus.agg(F.count("*").cast("double").alias("t"))
    nd = s3.groupBy("source").agg(F.count("*").cast("double").alias("n_s"))
    th = (
        nd.crossJoin(F.broadcast(td))
        .crossJoin(F.broadcast(kd))
        .select(
            "source",
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.col("t") / F.lit(4.0) / F.col("k") / F.col("n_s"),
                )
                * 1000000
            )
            .cast("long")
            .alias("thr"),
        )
    )
    keep = F.expr(D.h64("concat('mixfull#', doc_id)", D.SPARK))
    s4 = (
        s3.join(F.broadcast(th), "source")
        .filter(keep % 1000000 < F.col("thr"))
        .select("doc_id", "source", "text")
    )

    def stage(df: DataFrame, name: str, order: int) -> DataFrame:
        return df.agg(
            F.lit(order).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count("*").alias("docs"),
            F.sum(F.length("text")).cast("long").alias("chars"),
        )

    return (
        stage(corpus, "input", 0)
        .unionAll(stage(s1, "decontaminated", 1))
        .unionAll(stage(s2, "derepetition", 2))
        .unionAll(stage(s2q, "quality_filtered", 3))
        .unionAll(stage(s3, "pii_scrubbed", 4))
        .unionAll(stage(s4, "mixture_sampled", 5))
        .orderBy("stage_no")
    )


# -------------------------------------------------- Gopher quality rules
#
# The canonical heuristic document filter (Rae et al. 2021, Gopher,
# Appendix A — reused by MassiveText/RefinedWeb-class pipelines), with
# every ratio rule algebraically cleared to an INTEGER comparison so
# both engines decide each rule from exact counts (no float thresholds):
#   word count in [50, 100_000]             (fails the fixture's short tail)
#   mean word length in [3, 10]        <=>  3W <= C <= 10W
#   symbol-to-word ratio <= 0.1        <=>  10*(hashes + ellipses) <= W
#   >= 80% words contain an alphabetic char  <=>  5*A >= 4*W
#   >= 2 distinct stop words (the corpus-tuned analogue of Gopher's
#   English function-word list — a synthetic DB-vocab corpus contains
#   no English stop words, so the rule is localized exactly the way a
#   per-language pipeline localizes it)
_GOPHER_STOPS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter"]


def _gopher_rules(engine: str, table: str) -> str:
    ts = D.split_ws("lower(trim(text))", engine)
    alen = D.alen("ts", engine)
    alpha = D.alen(
        D.arr_filter("ts", f"t -> {D.re_matches('t', '[a-z]', engine)}", engine),
        engine,
    )
    stops = D.alen(
        D.arr_intersect("ts", D.arr_lit(_GOPHER_STOPS, engine), engine), engine
    )
    # char count over words (excludes separators): sum of token lengths
    chars = D.fold_sum_double(
        D.transform("ts", "t -> CAST(length(t) AS DOUBLE)", engine), engine
    )
    return f"""
    WITH feats AS (
      SELECT source,
             CAST({alen} AS BIGINT) AS w,
             CAST({chars} AS BIGINT) AS c,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               + CAST((length(text) - length(replace(text, '...', ''))) / 3
                      AS BIGINT) AS s,
             CAST({alpha} AS BIGINT) AS a,
             CAST({stops} AS BIGINT) AS st
      FROM (SELECT source, text, {ts} AS ts FROM {table}
            WHERE text IS NOT NULL) t0
    ),
    flags AS (
      SELECT source,
             CASE WHEN w < 50 OR w > 100000 THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN 3 * w > c OR c > 10 * w THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN 10 * s > w THEN 1 ELSE 0 END AS f_sym,
             CASE WHEN 5 * a < 4 * w THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN st < 2 THEN 1 ELSE 0 END AS f_stop
      FROM feats
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
           CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(SUM(f_sym) AS BIGINT) AS fail_symbol_ratio,
           CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_words,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords
    FROM flags GROUP BY source ORDER BY source"""


@register(
    "curation_gopher_rules",
    _gopher_rules(D.DUCK, "documents"),
    doc="training-data ext: the canonical Gopher/MassiveText heuristic "
        "quality filter (word-count bounds, mean word length, "
        "symbol-to-word ratio, alphabetic-word fraction, stop-word "
        "containment) with every ratio rule cleared to an exact integer "
        "comparison; per-source keep + per-rule failure accounting. "
        "Stop list corpus-localized (the per-language tuning every real "
        "pipeline does). One corpus pass, per-doc array expressions, "
        "aggregate-only output",
)
def curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _gopher_rules, "bq_gopher_docs"
    )


# -------------------------------------------- URL / provenance dedup

# The dedup family covers the CONTENT axis (exact / near / span); a
# crawl pipeline dedups the PROVENANCE axis first: canonicalize URLs,
# keep each page's first fetch, then cap any one domain's share of the
# corpus. documents has no URL column, so deterministic synthetic crawl
# URLs are derived in shared SQL: ~7 docs share a page (doc_id DIV 7)
# in four scheme/www/trailing-slash/tracking/fragment variants, and the
# page's domain is zipf-ish (frequency of domain i ∝ 2i+1 via
# FLOOR(SQRT(k % 576)) — exact in both engines: SQRT is correctly
# rounded IEEE on integers < 2^52).
_URL_SEED = 29
_URL_CAP = 3  # per-domain page budget (fixture-sized; production: ~1e5)


def _url_canon_sql(engine: str, table: str) -> str:
    """(doc_id, curl, domain): synthetic raw URLs → canonical form
    (lower, strip scheme + www., strip query/fragment, strip trailing
    slash) → registrable-domain extraction."""
    idiv = "(doc_id // 7)" if engine == D.DUCK else "(doc_id DIV 7)"
    dom_id = (
        f"CAST(FLOOR(SQRT(CAST(({idiv} * 48271) % 576 AS DOUBLE))) AS INT)"
    )
    dom = f"CONCAT('d', CAST({dom_id} AS STRING), '.example.com')"
    pid = f"CAST({idiv} AS STRING)"
    url = f"""CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN CONCAT('https://www.', {dom}, '/p/', {pid}, '?utm_source=feed')
      WHEN 1 THEN CONCAT('http://', {dom}, '/p/', {pid}, '/')
      WHEN 2 THEN CONCAT('HTTPS://', {dom}, '/p/', {pid}, '#sec2')
      ELSE CONCAT('https://', {dom}, '/p/', {pid}, '?ref=tw') END"""
    strip_scheme = D.re_replace_all(
        "lower(url)", "^https?://(www\\.)?", "", engine
    )
    strip_query = D.re_replace_all(f"({strip_scheme})", "[?#].*$", "", engine)
    split_fn = "string_split" if engine == D.DUCK else "split"
    return f"""
    SELECT doc_id, curl,
           {D.at(f"{split_fn}(curl, '/')", "1", engine)} AS domain
    FROM (
      SELECT doc_id, TRIM(TRAILING '/' FROM {strip_query}) AS curl
      FROM (SELECT doc_id, {url} AS url FROM {table}) u
    ) c"""


def _url_dedup_cap_oracle(table: str) -> str:
    """DuckDB mirror of the operator composition: MIN(doc_id) per
    canonical URL (first fetch wins — map-combinable agg, never a
    row_number over the URL-hash partition), then the seeded-h64
    rank-per-domain cap (≡ operators/sampling.per_key_exact_sample
    with order_hash = portable h64)."""
    h = D.seeded_h64("CAST(doc_id AS STRING)", _URL_SEED, D.DUCK)
    return f"""
    WITH canon AS ({_url_canon_sql(D.DUCK, table)}),
    firsts AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY curl),
    kept AS (SELECT c.* FROM canon c JOIN firsts f ON c.doc_id = f.doc_id),
    capped AS (
      SELECT domain, doc_id FROM (
        SELECT domain, doc_id,
               row_number() OVER (PARTITION BY domain
                                  ORDER BY {h}, doc_id) AS rn
        FROM kept
      ) r WHERE rn <= {_URL_CAP}
    ),
    tot AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS docs_total
            FROM canon GROUP BY domain),
    uniq AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS urls_canonical
             FROM kept GROUP BY domain),
    cp AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS kept_after_cap,
                  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
           FROM capped GROUP BY domain)
    SELECT t.domain, docs_total, urls_canonical,
           docs_total - urls_canonical AS dups_removed,
           kept_after_cap, kept_id_sum
    FROM tot t JOIN uniq u ON t.domain = u.domain
    JOIN cp ON t.domain = cp.domain
    ORDER BY t.domain"""


@register(
    "curation_url_dedup_cap",
    _url_dedup_cap_oracle("documents"),
    doc="training-data ext: provenance-axis dedup — canonicalized-URL "
        "exact dedup (first fetch wins via MIN(doc_id) per canonical "
        "URL, the map-combinable argmax idiom) composed with a "
        "per-domain page cap (operators/sampling.per_key_exact_sample: "
        "seeded-h64 rank, hash-range PREFILTER kills ~99% of the cap "
        "shuffle map-side at scale). Per-domain report: fetch count, "
        "canonical pages, dups removed, capped keep set pinned by its "
        "exact id-sum. Completes the dedup family's third axis "
        "(content exact/near/span + provenance)",
)
def curation_url_dedup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import per_key_exact_sample

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_urlddc_docs"
    )
    # canon (the regex canonicalize pass) feeds firsts, the keep join
    # AND tot; kept feeds capped AND uniq — both frontiers are
    # projections/joins (not exchanges), so the corpus pass re-ran per
    # consumer (r12 plan audit: 3 documents scans, 0 reuse). Stage the
    # narrow frames lazily; no new exchange is introduced.
    canon = spark.sql(
        _url_canon_sql(D.SPARK, "bq_urlddc_docs")
    # receipt: unstaged/staged 1.76× at 10×
    # (reports/receipts/nockpt_10x_curation.json; this builder's 2 stagings A/B'd together)
    ).localCheckpoint(eager=False)
    firsts = canon.groupBy("curl").agg(F.min("doc_id").alias("doc_id"))
    kept = (
        canon.join(firsts.select("doc_id"), "doc_id", "left_semi")
        .select("domain", "doc_id")
        # receipt: with this builder's first staging (1.76× at 10×)
        .localCheckpoint(eager=False)
    )
    h = F.expr(D.seeded_h64("CAST(doc_id AS STRING)", _URL_SEED, D.SPARK))
    capped = per_key_exact_sample(
        kept,
        "domain",
        _URL_CAP,
        key_col="doc_id",
        order_hash=h,
        hash_range=(0, 1 << 60),  # portable md5 h64 is 60-bit non-negative
    )
    tot = canon.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("docs_total")
    )
    uniq = kept.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("urls_canonical")
    )
    cp = capped.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("kept_after_cap"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )
    return (
        tot.join(uniq, "domain")
        .join(cp, "domain")
        .select(
            "domain",
            "docs_total",
            "urls_canonical",
            (F.col("docs_total") - F.col("urls_canonical")).alias("dups_removed"),
            "kept_after_cap",
            "kept_id_sum",
        )
        .orderBy("domain")
    )


# -------------------------------- DSIR importance resampling selection

_DSIR_B = 1024            # hashed n-gram feature buckets
_DSIR_TARGET_SRC = "src0"  # target domain the selection steers toward
_DSIR_TOP = 20


def _dsir_toks_sql(engine: str, docs_rel: str) -> str:
    """The one tokenize pass: (doc_id, source, token array). Staged on
    the Spark side (lazy localCheckpoint) because BOTH gram arms read
    it — the pre-review shape re-tokenized the corpus once per arm."""
    toks = D.split_ws("lower(trim(text))", engine)
    return (
        f"SELECT doc_id, source, {toks} AS __t FROM {docs_rel} "
        "WHERE text IS NOT NULL"
    )


def _dsir_grams_sql(engine: str, toks_rel: str) -> str:
    """Hashed n-gram featurization (word unigrams + bigrams → h64 mod
    B) over the staged token arrays, engine-templated."""
    pos = D.bigram_positions("__t", engine)
    w1 = D.at("__t", "__i", engine)
    w2 = D.at("__t", "__i + 1", engine)
    uni = D.unnest_col("__t", engine)
    h = D.h64("g", engine)
    return f"""
    SELECT doc_id, source, ({h} % {_DSIR_B}) AS bucket FROM (
      SELECT doc_id, source, {uni} AS g FROM {toks_rel}
      UNION ALL
      SELECT doc_id, source, CONCAT({w1}, ' ', {w2}) AS g
      FROM (SELECT doc_id, source, __t, {pos} AS __i FROM {toks_rel}) p
    ) g"""


def _dsir_read_sql(grams_rel: str) -> str:
    """Importance weights over hashed-ngram unigram LMs (DSIR, Xie et
    al. 2023): per bucket, lw = ln p_target(b) − ln p_raw(b) with
    add-one smoothing, expanded to FOUR LNs of integer-valued doubles
    (each deterministic; the sum is fixed left-assoc float adds, no
    products so no FMA hazard), snapped to micro-nats. A doc's weight is
    the EXACT BIGINT sum of its gram buckets' lw (DSIR's log importance
    weight — a sum, not an average); top docs by (sum_lw DESC, doc_id)
    via ORDER BY + LIMIT (TakeOrderedAndProject — no global window).
    Engine-shared text."""
    b = _DSIR_B
    return f"""
    WITH tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS traw,
             CAST(SUM(CASE WHEN source = '{_DSIR_TARGET_SRC}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ttgt
      FROM {grams_rel}
    ),
    raw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr
            FROM {grams_rel} GROUP BY bucket),
    tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
            FROM {grams_rel} WHERE source = '{_DSIR_TARGET_SRC}'
            GROUP BY bucket),
    ratio AS (
      SELECT r.bucket,
             CAST(FLOOR((LN(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE))
                         + LN(CAST(tot.traw + {b} AS DOUBLE))
                         - LN(CAST(r.cr + 1 AS DOUBLE))
                         - LN(CAST(tot.ttgt + {b} AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lw
      FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket
      CROSS JOIN tot
    ),
    scores AS (
      SELECT g.doc_id, g.source, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(rt.lw) AS BIGINT) AS sum_lw
      FROM {grams_rel} g JOIN ratio rt ON rt.bucket = g.bucket
      GROUP BY g.doc_id, g.source
    )
    SELECT doc_id, source, n_grams, sum_lw,
           CAST(sum_lw AS DOUBLE) / 1000000.0 AS dsir_logweight
    FROM scores
    ORDER BY sum_lw DESC, doc_id
    LIMIT {_DSIR_TOP}"""


@register(
    "curation_dsir_select",
    "WITH dsir_t AS (" + _dsir_toks_sql(D.DUCK, "documents") + "),"
    + " dsir_g AS (" + _dsir_grams_sql(D.DUCK, "dsir_t") + "),"
    + _dsir_read_sql("dsir_g").lstrip().removeprefix("WITH"),
    doc="training-data ext: data selection with importance resampling "
        "(DSIR, Xie et al. 2023) — docs are featurized into hashed "
        "n-gram buckets (word uni+bigrams, h64 mod 1024), bucket "
        "log-ratios ln p_target − ln p_raw are estimated with add-one "
        "smoothing against the target domain (source=src0), and each "
        "doc's importance log-weight is the exact micro-nat BIGINT sum "
        "over its grams; top-20 by exact integer order via "
        "TakeOrderedAndProject. One featurize pass + a 1024-row "
        "broadcast ratio join — linear at 100 TB; the 1-row totals "
        "anchor is the whitelisted BNLJ shape",
    bench=True,  # r11 continuation: flagship selection op
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # spread the two explodes off the 1-partition single-file scan
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_dsir_docs")
    # toks feed both gram arms, grams fan into tot/raw/tgt/scores —
    # CTE-inlining class twice over: stage each once, lazily
    # receipt: unstaged/staged 1.51× at 10×
    # (reports/receipts/nockpt_10x_curation.json; this builder's 2 stagings A/B'd together)
    toks = spark.sql(_dsir_toks_sql(D.SPARK, "bq_dsir_docs")).localCheckpoint(
        eager=False
    )
    toks.createOrReplaceTempView("bq_dsir_toks")
    # receipt: with this builder's first staging (1.51× at 10×)
    grams = spark.sql(_dsir_grams_sql(D.SPARK, "bq_dsir_toks")).localCheckpoint(
        eager=False
    )
    grams.createOrReplaceTempView("bq_dsir_grams")
    return spark.sql(_dsir_read_sql("bq_dsir_grams"))


# ---------------------------------- token-budget prefix selection

_TB_FRACTION = (6, 10)  # keep the best 60% of corpus tokens


def _tb_docs_sql(engine: str, table: str) -> str:
    """Per-doc (n_tokens, score_fp): the quality proxy is stopword
    coverage share in exact integer millionths (Gopher treats adequate
    stop-token coverage as a natural-language signal; any integer score
    plugs into the same operator). idiv keeps the score an exact BIGINT
    in both engines; plentiful ties on the 31-word corpus exercise the
    operator's id-refinement phase in production, not just in tests."""
    toks = D.split_ws("lower(trim(text))", engine)
    stop_arr = D.arr_lit(_GOPHER_STOPS, engine)
    stops = D.arr_filter(
        "__t", f"t -> {D.arr_contains(stop_arr, 't', engine)}", engine
    )
    n_tok = f"CAST({D.alen('__t', engine)} AS BIGINT)"
    n_stop = f"CAST({D.alen(stops, engine)} AS BIGINT)"
    score = D.idiv(f"(1000000 * {n_stop})", n_tok, engine)
    return f"""
    SELECT doc_id, source, {n_tok} AS n_tokens, {score} AS score_fp
    FROM (SELECT doc_id, source, {toks} AS __t FROM {table}
          WHERE text IS NOT NULL) t"""


def _tb_oracle() -> str:
    """Declarative replay: weights are non-negative, so the running
    total is monotone and 'cum <= budget' IS the maximal prefix (the
    first overflowing doc and everything after it carry cum > budget).
    The one-task cumulative window is fine at ORACLE SFs; the Spark
    side is the bounded-refinement operator precisely because it is
    not fine at 100 TB."""
    num, den = _TB_FRACTION
    d = _tb_docs_sql(D.DUCK, "documents")
    return f"""
    WITH d AS ({d}),
    tot AS (SELECT (CAST(SUM(n_tokens) AS BIGINT) * {num}) // {den}
              AS budget FROM d),
    ord AS (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY score_fp DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
            FROM d),
    kept AS (SELECT o.doc_id, o.source, o.n_tokens
             FROM ord o CROSS JOIN tot t WHERE o.cum <= t.budget)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_total,
           CAST(COUNT(k.doc_id) AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(k.n_tokens), 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum,
           t.budget
    FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
    CROSS JOIN tot t
    GROUP BY d.source, t.budget
    ORDER BY d.source"""


@register(
    "curation_token_budget_select",
    _tb_oracle(),
    doc="training-data ext: token-budget prefix selection — keep the "
        "maximal quality-ordered prefix of the corpus whose cumulative "
        "token count fits the budget (60% of corpus tokens), i.e. the "
        "WEIGHTED quantile threshold every budget-capped curation run "
        "needs. The Spark side finds the exact (score, id) boundary via "
        "iterative integer bucket refinement with O(bins) driver state "
        "per level and a bounded leaf (operators/budget.py — the naive "
        "shape is a one-task cumulative sort of the corpus); the kept "
        "set is then one codegen predicate. Property-tested against a "
        "pure-Python prefix walk on heavy ties / heavy tails; the "
        "oracle replays the monotone cum<=budget window declaratively",
    bench=True,  # r11 continuation: flagship selection op
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.budget import token_budget_prefix

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_tb_docs")
    # scored docs feed the operator's refinement passes AND the final
    # per-source aggregates — lazy checkpoint against recompute fan-out
    # receipt: unstaged/staged 5.22× at 10×
    # (reports/receipts/nockpt_10x_curation.json)
    d = spark.sql(_tb_docs_sql(D.SPARK, "bq_tb_docs")).localCheckpoint(
        eager=False
    )
    b = token_budget_prefix(
        d,
        score_col="score_fp",
        id_col="doc_id",
        weight_col="n_tokens",
        budget_fraction=_TB_FRACTION,
    )
    kept = d.where(b.kept_predicate("score_fp", "doc_id"))
    totals = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs_total"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
    )
    kept_agg = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "docs_total",
            "tokens_total",
            F.coalesce("docs_kept", F.lit(0)).cast("bigint").alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint")
            .alias("tokens_kept"),
            F.coalesce("kept_id_sum", F.lit(0)).cast("bigint")
            .alias("kept_id_sum"),
            F.lit(b.budget).cast("bigint").alias("budget"),
        )
        .orderBy("source")
    )


# --------------------------- CCNet perplexity buckets (head/middle/tail)


def _ccnet_bi_sql(engine: str, table: str) -> str:
    """(doc_id, lang, p_h, w_h) token rows — the lang-keyed twin of
    text_ops._lm_bi_sql (same BOS-sentinel construction; CCNet shapes
    per LANGUAGE, Wenzek et al. 2020)."""
    ts = D.split_ws("lower(trim(text))", engine)
    cur = D.h64(D.at("ts", "i", engine), engine)
    prv = D.h64(D.at("ts", "i - 1", engine), engine)
    pos = D.unnest_col(D.iseq("1", D.alen("ts", engine), engine), engine)
    return f"""
    SELECT doc_id, lang, ({cur}) AS w_h,
           CASE WHEN i = 1 THEN 0 ELSE ({prv}) END AS p_h
    FROM (
      SELECT doc_id, lang, ts, {pos} AS i
      FROM (SELECT doc_id, lang, {ts} AS ts FROM {table}
            WHERE text IS NOT NULL AND length(trim(text)) >= 1
              AND lang IS NOT NULL) t0
    ) t"""


def _ccnet_fp_ln(x: str) -> str:
    """ln(x) snapped to integer micro-nats — the text_ops._fp_ln idiom,
    inlined here (text_ops imports from this module at init, so a
    module-level import back would be circular)."""
    return f"CAST(FLOOR(LN(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


def _ccnet_perdoc_ctes(engine: str, bi: str) -> str:
    """CTE chain ending in ``ccn_pd``: per-doc NLL under the corpus's
    own add-one bigram LM (the text_lm_perplexity chain) + integer
    per-token average avg_i = nll_micro DIV n (nll ≥ 0, so truncation
    IS floor). Emitted WITHOUT the leading WITH so both the terminal
    Spark query and the oracle's longer chain can splice it."""
    _fp_ln = _ccnet_fp_ln
    avg = D.idiv("CAST(SUM(nll) AS BIGINT)", "CAST(COUNT(*) AS BIGINT)", engine)
    return f"""cbi AS (SELECT p_h, w_h, CAST(COUNT(*) AS BIGINT) AS c
                   FROM {bi} GROUP BY p_h, w_h),
    cctx AS (SELECT p_h, CAST(COUNT(*) AS BIGINT) AS c
             FROM {bi} GROUP BY p_h),
    vocab AS (SELECT CAST(COUNT(DISTINCT w_h) AS BIGINT) AS v FROM {bi}),
    scored AS (
      SELECT b.doc_id, b.lang,
             {_fp_ln('x.c + vocab.v')} - {_fp_ln('c.c + 1')} AS nll
      FROM {bi} b
      JOIN cbi c ON c.p_h = b.p_h AND c.w_h = b.w_h
      JOIN cctx x ON x.p_h = b.p_h
      CROSS JOIN vocab
    ),
    ccn_pd AS (
      SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(nll) AS BIGINT) AS nll_micro,
             {avg} AS avg_i
      FROM scored GROUP BY doc_id, lang
    )"""


def _ccnet_perdoc_sql(engine: str, bi: str) -> str:
    return (
        f"WITH {_ccnet_perdoc_ctes(engine, bi)} SELECT * FROM ccn_pd"
    )


def _ccnet_oracle() -> str:
    """Per-lang tercile thresholds replayed with the grouped_percentiles
    rank-interpolation idiom (value-at-rank is tie-order independent),
    then value-threshold bucketing — identical comparisons to the Spark
    side's grouped_quantile_select output."""
    bi = _ccnet_bi_sql(D.DUCK, "documents")
    pd_ctes = _ccnet_perdoc_ctes(D.DUCK, "ccn_bi")
    return f"""
    WITH ccn_bi AS ({bi}),
    {pd_ctes}
    , o AS (SELECT lang, avg_i,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY avg_i, doc_id) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM ccn_pd),
    g AS (SELECT DISTINCT lang, n FROM o),
    p AS (SELECT CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE) AS p
          UNION ALL
          SELECT CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE)),
    k AS (SELECT g.lang, p.p, 1.0 + (g.n - 1) * p.p AS r,
                 CAST(FLOOR(1.0 + (g.n - 1) * p.p) AS BIGINT) AS lo,
                 CAST(CEILING(1.0 + (g.n - 1) * p.p) AS BIGINT) AS hi
          FROM g CROSS JOIN p),
    q AS (SELECT k.lang, k.p,
                 CAST(lov.avg_i + (hiv.avg_i - lov.avg_i) * (k.r - k.lo)
                      AS DOUBLE) AS qv
          FROM k
          JOIN o lov ON lov.lang = k.lang AND lov.rn = k.lo
          JOIN o hiv ON hiv.lang = k.lang AND hiv.rn = k.hi),
    th AS (SELECT lang, MAX(CASE WHEN p < 0.5 THEN qv END) AS t1,
                  MAX(CASE WHEN p > 0.5 THEN qv END) AS t2
           FROM q GROUP BY lang),
    b AS (SELECT d.lang,
                 CASE WHEN CAST(d.avg_i AS DOUBLE) <= th.t1 THEN 'head'
                      WHEN CAST(d.avg_i AS DOUBLE) <= th.t2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 d.n, d.nll_micro
          FROM ccn_pd d JOIN th ON th.lang = d.lang)
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n) AS BIGINT) AS tokens,
           CAST(SUM(nll_micro) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) * 1000000.0) AS avg_nll_nats
    FROM b GROUP BY lang, bucket ORDER BY lang, bucket"""


@register(
    "curation_ccnet_buckets",
    _ccnet_oracle(),
    doc="training-data ext: CCNet head/middle/tail perplexity shaping "
        "(Wenzek et al. 2020) — per language, docs are bucketed by "
        "per-token bigram-LM NLL terciles (exact integer micro-nat "
        "averages; thresholds from the scale-path grouped quantile "
        "operator, never a per-lang rank window over raw docs) and the "
        "report gives per-(lang, bucket) doc/token mass and avg NLL. "
        "Composes text_lm_perplexity's LM chain with "
        "operators/quantiles.grouped_quantile_select; the oracle "
        "replays terciles with the grouped_percentiles interpolation "
        "idiom and the same value-threshold bucket comparisons",
)
def curation_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import grouped_quantile_select

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_ccn_docs")
    # receipt: unstaged/staged 5.39× at 10×
    # (reports/receipts/nockpt_10x_curation.json; this builder's 2 stagings A/B'd together)
    bi = spark.sql(_ccnet_bi_sql(D.SPARK, "bq_ccn_docs")).localCheckpoint(
        eager=False
    )
    bi.createOrReplaceTempView("bq_ccn_bi")
    # receipt: with this builder's first staging (5.39× at 10×)
    pd = spark.sql(_ccnet_perdoc_sql(D.SPARK, "bq_ccn_bi")).localCheckpoint(
        eager=False
    )
    th = grouped_quantile_select(
        pd.select("lang", "avg_i"), ["lang"], "avg_i", [1 / 3, 2 / 3]
    )
    thp = th.groupBy("lang").agg(
        F.max(F.when(F.col("p") < 0.5, F.col("qvalue"))).alias("t1"),
        F.max(F.when(F.col("p") > 0.5, F.col("qvalue"))).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_i").cast("double") <= F.col("t1"), "head")
        .when(F.col("avg_i").cast("double") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        pd.join(F.broadcast(thp), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("n").cast("bigint").alias("tokens"),
            F.expr(
                "CAST(SUM(nll_micro) AS DOUBLE)"
                " / (CAST(SUM(n) AS DOUBLE) * 1000000.0)"
            ).alias("avg_nll_nats"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------- per-domain token caps (grouped budgets)

_DTC_FRACTION = (4, 10)  # cap every source at 40% of its own tokens


def _dtc_oracle() -> str:
    """Per-group declarative replay: the running total is monotone
    within each source (weights ≥ 0), so PARTITION BY source +
    cum <= budget IS the per-group maximal prefix."""
    num, den = _DTC_FRACTION
    d = _tb_docs_sql(D.DUCK, "documents")
    return f"""
    WITH d AS ({d}),
    tot AS (SELECT source,
                   (CAST(SUM(n_tokens) AS BIGINT) * {num}) // {den}
                     AS budget
            FROM d GROUP BY source),
    ord AS (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source
                     ORDER BY score_fp DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
            FROM d),
    kept AS (SELECT o.doc_id, o.source, o.n_tokens
             FROM ord o JOIN tot t ON t.source = o.source
             WHERE o.cum <= t.budget)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_total,
           CAST(COUNT(k.doc_id) AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(k.n_tokens), 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum,
           t.budget
    FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
    JOIN tot t ON t.source = d.source
    GROUP BY d.source, t.budget
    ORDER BY d.source"""


@register(
    "curation_domain_token_caps",
    _dtc_oracle(),
    doc="training-data ext: per-domain token caps — every source keeps "
        "its best-quality prefix up to 40% of its OWN token mass (the "
        "crawl-pipeline domain-budget rule; quality = the stopword-"
        "coverage proxy). All 20 sources find their exact (score, id) "
        "boundaries in LOCKSTEP via the grouped budget operator "
        "(operators/budget.grouped_token_budget_prefix — one "
        "map-combinable pass per refinement level for EVERY live group, "
        "O(groups×bins) driver state, distributed per-group leaf "
        "windows over ≤leaf_rows rows); the naive shape is a per-source "
        "rank window over raw docs. Oracle replays the monotone "
        "per-group cum<=budget window; kept sets reproduced through "
        "the returned boundary frame's broadcast-join predicate",
)
def curation_domain_token_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.budget import grouped_token_budget_prefix

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_dtc_docs")
    # receipt: unstaged/staged 2.67× at 10×
    # (reports/receipts/nockpt_10x_curation.json)
    d = spark.sql(_tb_docs_sql(D.SPARK, "bq_dtc_docs")).localCheckpoint(
        eager=False
    )
    bounds = grouped_token_budget_prefix(
        d,
        group_col="source",
        score_col="score_fp",
        id_col="doc_id",
        weight_col="n_tokens",
        budget_fraction=_DTC_FRACTION,
    )
    # totals and kept doc/token masses are already columns of the
    # boundary frame — only kept_id_sum needs the one join-back scan
    # (review finding: the pre-review shape paid two redundant corpus
    # aggregation passes recomputing what bounds carries)
    idsum = (
        d.join(
            F.broadcast(bounds.withColumnRenamed("group", "source")),
            "source",
        )
        .where(
            (F.col("score_fp") > F.col("s_star"))
            | ((F.col("score_fp") == F.col("s_star"))
               & (F.col("doc_id") <= F.col("d_star")))
        )
        .groupBy("source")
        .agg(F.sum("doc_id").cast("bigint").alias("kept_id_sum"))
    )
    return (
        bounds.select(
            F.col("group").alias("source"),
            F.col("total_docs").cast("bigint").alias("docs_total"),
            F.col("total_weight").cast("bigint").alias("tokens_total"),
            F.col("kept_docs").cast("bigint").alias("docs_kept"),
            F.col("kept_weight").cast("bigint").alias("tokens_kept"),
            F.col("budget").cast("bigint").alias("budget"),
        )
        .join(idsum, "source", "left")
        .select(
            "source",
            "docs_total",
            "tokens_total",
            "docs_kept",
            "tokens_kept",
            F.coalesce("kept_id_sum", F.lit(0)).cast("bigint")
            .alias("kept_id_sum"),
            "budget",
        )
        .orderBy("source")
    )
