"""Dataset-preparation operators over the documents table (training-data
pipeline extensions): deterministic hash-based train/val/test splits and
document-length stratification.

A training corpus is split by CONTENT-STABLE hashing, never by rand():
the assignment must be reproducible across runs, engines, and
repartitioning, and must follow a document if the corpus is re-sharded.
The portable md5→int64 hash (functions/compat, dialect.h64) is positive
(60-bit), so plain ``% 100`` agrees across engines — no pmod/%%
negative-operand divergence to paper over.

The scale path (`operators/sampling.py`) uses xxhash64 for the same
shapes; these oracle flavors pin the arithmetic via the portable hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import dialect as D
from .registry import register


def _run_rendered(spark: SparkSession, sf_dir: str, table: str, render, view: str) -> DataFrame:
    load_table(spark, sf_dir, table).createOrReplaceTempView(view)
    return spark.sql(render(D.SPARK, view))


# 80/10/10 split on a seeded hash of the doc id.
_SPLIT_SEED = 7


def _split_assign(engine: str, table: str) -> str:
    h = D.seeded_h64("CAST(doc_id AS STRING)", _SPLIT_SEED, engine)
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    # hash staged once in a subquery — the CASE references it twice, and
    # an md5 per reference is real cost if an engine's CSE misses it
    return f"""
    SELECT split, COUNT(*) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM (
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             n_tokens
      FROM (SELECT ({h}) % 100 AS bucket, {tok} AS n_tokens FROM {table}) hashed
    ) assigned
    GROUP BY split"""


@register(
    "dataset_split_assign",
    _split_assign(D.DUCK, "documents"),
    doc="training-data ext: deterministic 80/10/10 train/val/test split by "
        "seeded content-stable hash (reproducible across runs/engines/"
        "re-sharding — never rand()); per-split doc and token budgets",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _split_assign, "bq_split_docs")


def _length_strata(engine: str, table: str) -> str:
    """Token-length stratification: the doc-length histogram a curriculum
    / packing stage reads, plus a deterministic 10% per-stratum sample
    count (hash-gated, so both engines agree row-for-row)."""
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    h = D.seeded_h64("CAST(doc_id AS STRING)", 11, engine)
    # tokenizer staged once — the stratum CASE references it three times
    return f"""
    SELECT stratum, COUNT(*) AS docs,
           CAST(MIN(n_tokens) AS INT) AS min_tokens,
           CAST(MAX(n_tokens) AS INT) AS max_tokens,
           CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs
    FROM (
      SELECT n_tokens,
             CASE WHEN n_tokens < 32 THEN 'xs'
                  WHEN n_tokens < 64 THEN 's'
                  WHEN n_tokens < 128 THEN 'm'
                  ELSE 'l' END AS stratum,
             bucket
      FROM (SELECT {tok} AS n_tokens, ({h}) % 10 AS bucket FROM {table}) m
    ) strat
    GROUP BY stratum"""


_PACK_CTX = 512  # context length in whitespace tokens (small testdata docs)
_PACK_SHARDS = 8


def _pack_chunks(engine: str, table: str) -> str:
    """Concat-and-chunk sequence packing (operators/packing.py twin):
    per-shard running token offset → chunk id; per-shard fill summary.
    FLOOR before CAST (DuckDB rounds double→int casts, Spark truncates)."""
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    h = D.seeded_h64("CAST(doc_id AS STRING)", 13, engine)
    return f"""
    WITH base AS (
      SELECT doc_id, ({h}) % {_PACK_SHARDS} AS shard, {tok} AS n_tokens
      FROM {table}
    ),
    offs AS (
      SELECT shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM base
    ),
    chunked AS (
      SELECT shard, n_tokens,
             CAST(FLOOR(start_offset / {_PACK_CTX}.0) AS BIGINT) AS chunk
      FROM offs
    ),
    per_chunk AS (
      SELECT shard, chunk, COUNT(*) AS docs_in_chunk, SUM(n_tokens) AS chunk_tokens
      FROM chunked GROUP BY shard, chunk
    )
    SELECT shard,
           CAST(SUM(docs_in_chunk) AS BIGINT) AS docs,
           CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens,
           COUNT(*) AS chunks_started,
           CAST(MAX(docs_in_chunk) AS BIGINT) AS max_docs_per_chunk
    FROM per_chunk
    GROUP BY shard"""


@register(
    "dataset_pack_chunks",
    _pack_chunks(D.DUCK, "documents"),
    doc="training-data ext: concat-and-chunk sequence packing — per-shard "
        "running token offsets assign each doc a context-window chunk; "
        "per-shard fill summary (shard-local windows, never a global sort)",
)
def dataset_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _pack_chunks, "bq_pack_docs")


@register(
    "dataset_length_strata",
    _length_strata(D.DUCK, "documents"),
    doc="training-data ext: token-length stratification histogram + "
        "deterministic hash-gated 10% per-stratum sample counts",
)
def dataset_length_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _length_strata, "bq_strata_docs")


# ------------------------------------------- per-key exact-k sampling

_SAMPLE_K = 40
_SAMPLE_SEED = 17


def _per_key_sample(engine: str, table: str) -> str:
    h = D.seeded_h64("CAST(o_orderkey AS STRING)", _SAMPLE_SEED, engine)
    return f"""
    SELECT o_orderpriority, o_orderkey, CAST(rn AS INT) AS rn
    FROM (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY {h}, o_orderkey) AS rn
      FROM {table}
    ) ranked
    WHERE rn <= {_SAMPLE_K}"""


@register(
    "per_key_sample",
    _per_key_sample(D.DUCK, "orders"),
    doc="training-data ext: EXACTLY-k-per-stratum deterministic sample "
        "(reservoir-sampling equivalent) — rank by seeded content hash "
        "inside each key, keep top k (operators/sampling."
        "per_key_exact_sample); one keyed shuffle, stable across "
        "runs/engines/re-sharding",
)
def per_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..operators.sampling import per_key_exact_sample

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderkey")
    h = F.expr(D.seeded_h64("CAST(o_orderkey AS STRING)", _SAMPLE_SEED, D.SPARK))
    return per_key_exact_sample(
        o,
        "o_orderpriority",
        _SAMPLE_K,
        key_col="o_orderkey",
        order_hash=h,
        rank_col="rn",
        hash_range=(0, 1 << 60),  # portable md5 h64 is 60-bit non-negative
    )


# ----------------------------------------- weight-proportional sampling


def _weighted_sample(engine: str, table: str) -> str:
    """Importance-sampling oracle (scale path: operators/sampling.
    weighted_deterministic_sample): keep-probability ∝ token count, so
    the TOKEN budget's composition survives where uniform doc sampling
    skews short. Threshold arithmetic is all-integer — w·frac·2^20
    rescaled by the corpus mean via (Σw, n) from a scalar subquery —
    so both engines agree exactly."""
    tok = D.alen(D.split_ws("trim(text)", engine), engine)
    h = D.seeded_h64("CAST(doc_id AS STRING)", 23, engine)
    gate = f"({h}) % 1048576"
    thresh = D.idiv("w.w * 3 * 1048576 * tot.n", "10 * tot.tw", engine)
    return f"""
    WITH w AS (SELECT doc_id, lang, CAST({tok} AS BIGINT) AS w FROM {table}),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, COUNT(*) AS n FROM w)
    SELECT w.lang, COUNT(*) AS docs_kept,
           CAST(SUM(w.w) AS BIGINT) AS tokens_kept
    FROM w CROSS JOIN tot
    WHERE {gate} < LEAST(1048576, {thresh})
    GROUP BY w.lang"""


@register(
    "weighted_sample_summary",
    _weighted_sample(D.DUCK, "documents"),
    doc="training-data ext: weight-proportional (importance) sampling — "
        "keep-probability ∝ token count at a 30% token-budget target, "
        "content-stable hash gate, all-integer thresholds; per-language "
        "kept-docs/kept-tokens summary",
)
def weighted_sample_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _weighted_sample, "bq_wsamp_docs")


_SHUF_SEED = 11
_SHUF_SHARDS = 8


def _global_shuffle(engine: str, table: str) -> str:
    """Deterministic epoch shuffle: every doc gets a (shard, position)
    training order from a seeded content-stable hash — reproducible
    across runs/engines/re-sharding, and a new seed = a new epoch's
    permutation. The scalable shape: shard = hash % S partitions the
    corpus, the ORDER BY hash window sorts only WITHIN each shard (no
    global sort at any size); readers stream shards independently."""
    h = D.seeded_h64("CAST(doc_id AS STRING)", _SHUF_SEED, engine)
    return f"""
    WITH hashed AS (
      SELECT doc_id, n_chars, {h} AS h FROM {table}
    )
    SELECT doc_id,
           CAST(h % {_SHUF_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % {_SHUF_SHARDS}
                                   ORDER BY h, doc_id) AS INT) AS pos,
           n_chars
    FROM hashed"""


@register(
    "dataset_global_shuffle",
    _global_shuffle(D.DUCK, "documents"),
    doc="training-data ext: deterministic global training-order shuffle — "
        "seeded content-stable hash assigns every doc a (shard, position); "
        "re-running, re-sharding, or switching engines reproduces the "
        "identical permutation, and changing the seed yields the next "
        "epoch's order. Shard-partitioned ROW_NUMBER windows sort within "
        "shards only, never globally",
)
def dataset_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _global_shuffle, "bq_shuf_docs")


_MIX_SEED = 13
# lang mixture weights (en-heavy pretraining-style mix); vt multiplier =
# LCM(weights)/weight, kept INTEGER so the merge key is engine-exact
_MIX_VT = {"en": 1, "de": 2, "fr": 2, "es": 4, "zh": 4}
_MIX_HEAD = 400


def _interleave(engine: str, table: str) -> str:
    """Weighted deterministic source interleaving: each group's docs get
    a content-stable within-group order, then merge by integer virtual
    time vt = rn · (LCM/weight) — a group with weight w appears w×
    as often per unit of stream position as a weight-1 group, and the
    whole order is reproducible (no RNG, engine-exact integers). The
    oracle inspects the mixture realized in the stream's head. At scale
    the same vt key interleaves WITHIN each shard of the epoch shuffle
    (no global sort); the one-window global pos here is the
    oracle-inspectable miniature."""
    h = D.seeded_h64("CAST(doc_id AS STRING)", _MIX_SEED, engine)
    vt_case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_VT.items())
    return f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {h}, doc_id)
                  AS BIGINT) AS rn
      FROM {table}
    ), merged AS (
      SELECT doc_id, lang, rn * CASE lang {vt_case} ELSE 8 END AS vt
      FROM ranked
    ), ordered AS (
      SELECT lang,
             CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, doc_id) AS BIGINT) AS pos
      FROM merged
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_in_head,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM ordered
    WHERE pos <= {_MIX_HEAD}
    GROUP BY lang
    ORDER BY lang"""


@register(
    "dataset_interleave_sources",
    _interleave(D.DUCK, "documents"),
    doc="training-data ext: weighted deterministic corpus interleaving — "
        "per-language content-stable order merged by integer virtual "
        "time (rn·LCM/weight), so the training stream realizes the "
        "target mixture at every prefix, reproducibly (no RNG, no "
        "engine drift). Head-of-stream mixture audited per language; "
        "at scale the merge key works shard-local inside the epoch "
        "shuffle — no global sort",
)
def dataset_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(spark, sf_dir, "documents", _interleave, "bq_mix_docs")


# ------------------------------------------- RAG chunking with overlap

_CHUNK_W, _CHUNK_S = 32, 24

# DuckDB twin of operators/packing.chunk_tokens_overlap: sliding token
# windows (W=32 advancing by S=24), last chunk short rather than padded,
# chunk count clamped with GREATEST (also absorbs // floor vs DIV
# truncate on the n < W negative numerator). Pure integer + string
# arithmetic — nothing float to drift.
_CHUNK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n FROM d),
c AS (SELECT doc_id, toks, n,
        CAST(unnest(generate_series(0,
             GREATEST((n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}, 0))) AS INT)
          AS chunk_id
      FROM n)
SELECT doc_id, chunk_id,
       CAST(chunk_id * {_CHUNK_S} + 1 AS INT) AS tok_start,
       CAST(LEAST({_CHUNK_W}, n - chunk_id * {_CHUNK_S}) AS INT) AS tok_len,
       array_to_string(list_slice(toks, chunk_id * {_CHUNK_S} + 1,
           chunk_id * {_CHUNK_S} + LEAST({_CHUNK_W}, n - chunk_id * {_CHUNK_S})), ' ')
         AS chunk_text,
       n AS n_tokens
FROM c"""


@register(
    "text_chunk_windows",
    _CHUNK_ORACLE,
    doc="training-data ext: RAG-style sliding-window chunker "
        "(operators/packing.chunk_tokens_overlap) — token windows of "
        f"{_CHUNK_W} advancing by {_CHUNK_S}, shuffle-free per-row JVM "
        "expressions (split staged once per doc, tiny chunk-id explode); "
        "the retrieval-index sibling of concat-and-chunk packing",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import chunk_tokens_overlap

    return chunk_tokens_overlap(
        load_table(spark, sf_dir, "documents"),
        window=_CHUNK_W, stride=_CHUNK_S,
    )


# Balanced-mixture resample: downsample every source to the smallest
# source's count with content-stable hash acceptance — the domain-
# rebalancing step a pre-training mixture applies after measuring
# proportions (curation_domain_mixture measures; this one ACTS). The
# acceptance test is ALL-INTEGER: accept doc iff
# (h % 1e6) * n_source < n_min * 1e6 — no float rate whose rounding
# could flip a boundary doc between engines; h is the positive 60-bit
# portable hash, so % is engine-agnostic. Expected kept count per
# source is n_min ± binomial noise; the output pins the exact counts.
_MIX_COUNTS = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in
FROM {table} GROUP BY source"""


def _mixture_read_sql(engine: str, table: str, counts: str) -> str:
    h = D.seeded_h64("CAST(doc_id AS STRING)", 29, engine)
    return f"""
    WITH tgt AS (SELECT MIN(n_in) AS n_min FROM {counts}),
    kept AS (
      SELECT d.source
      FROM {table} d
      JOIN {counts} c ON c.source = d.source
      CROSS JOIN tgt
      WHERE ({h} % 1000000) * c.n_in < tgt.n_min * 1000000
    ),
    outc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
             FROM kept GROUP BY source)
    SELECT c.source, c.n_in, t.n_min AS n_target,
           COALESCE(o.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           CAST(COALESCE(o.n_kept, CAST(0 AS BIGINT)) AS DOUBLE)
             / c.n_in AS achieved_rate
    FROM {counts} c
    CROSS JOIN tgt t
    LEFT JOIN outc o ON o.source = c.source
    ORDER BY c.source"""


@register(
    "dataset_mixture_resample",
    "WITH counts AS (" + _MIX_COUNTS.format(table="documents") + "),\n"
    + _mixture_read_sql(D.DUCK, "documents", "counts").lstrip().removeprefix("WITH "),
    doc="training-data ext: balanced-mixture resample — every source "
        "deterministically downsampled to the smallest source's count "
        "via integer-exact portable-hash acceptance ((h % 1e6)·n_src < "
        "n_min·1e6; no float rate, no rand()). Two corpus passes "
        "(count, filter) and a broadcast-sized source table",
)
def dataset_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_mix_docs"
    )
    # no checkpoint on the counts: it did not pay (unstaged/staged 0.98×
    # at the 10× tier, 0.73× at 100×; reports/receipts/nockpt_*)
    spark.sql(_MIX_COUNTS.format(table="bq_mix_docs")).createOrReplaceTempView(
        "bq_mix_counts"
    )
    return spark.sql(_mixture_read_sql(D.SPARK, "bq_mix_docs", "bq_mix_counts"))


# Contrastive negative sampling: k pseudo-random candidate negatives per
# anchor doc via the portable hash ring (cand_id = h(doc_id, j) % N over
# the contiguous id space), joined back to the corpus and validated
# (different source, not the anchor itself). The output is the
# anchor-source × candidate-source pair matrix with valid counts — the
# quantity a contrastive-training mixture monitor tracks (are negatives
# actually cross-domain?). No rand(): the ring is content-stable, so
# re-sharding or re-running never changes a pair.
_NEG_K = 4


def _negative_sample_sql(engine: str, table: str) -> str:
    h = D.seeded_h64(
        "CONCAT(CAST(a.doc_id AS STRING), '#', CAST(a.j AS STRING))", 31, engine
    )
    j = D.unnest_col(D.iseq("1", str(_NEG_K), engine), engine)
    return f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}),
    a AS (SELECT doc_id, source, {j} AS j FROM {table}),
    cand AS (
      SELECT a.doc_id, a.source AS anchor_source,
             {h} % n.n_docs AS cand_id
      FROM a CROSS JOIN n
    ),
    pairs AS (
      SELECT c.anchor_source, d2.source AS cand_source,
             CASE WHEN d2.source <> c.anchor_source
                       AND d2.doc_id <> c.doc_id
                  THEN 1 ELSE 0 END AS valid
      FROM cand c JOIN {table} d2 ON d2.doc_id = c.cand_id
    )
    SELECT anchor_source, cand_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(valid) AS BIGINT) AS n_valid
    FROM pairs
    GROUP BY anchor_source, cand_source
    ORDER BY anchor_source, cand_source"""


@register(
    "dataset_negative_sample",
    _negative_sample_sql(D.DUCK, "documents"),
    doc=f"training-data ext: contrastive negative sampling — {_NEG_K} "
        "hash-ring candidate negatives per anchor (portable h(doc_id,j) "
        "% N over the contiguous id space, no rand()), equi-joined back "
        "to the corpus and validated cross-source; output is the "
        "anchor×candidate source matrix with valid counts. Scale shape: "
        f"one {_NEG_K}× explode, one shuffle join on cand_id, map-side-"
        "combinable counts; the 1-row corpus-count anchor broadcasts",
)
def dataset_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_rendered(
        spark, sf_dir, "documents", _negative_sample_sql, "bq_neg_docs"
    )


# ------------------------------------- temperature-scaled mixture


_TMIX_SEED = 29
_TMIX_BUDGET_DIV = 2  # target doc budget = total DIV 2


def _temperature_mixture(engine: str, table: str) -> str:
    """Temperature-scaled domain mixture at alpha = 0.5 (the
    multilingual-LM standard: target share p_d ∝ n_d^alpha, flattening
    the head and boosting the tail vs proportional sampling). Keep
    fraction f_d = min(1, T·n_d^(alpha-1)/Σ n^alpha) with T = half the
    corpus; membership is the content-stable hash gate.

    Cross-engine exactness: IEEE SQRT is correctly rounded, so both
    engines compute identical doubles per domain — but a SUM over them
    is accumulation-ORDER-dependent, so each sqrt snaps to integer
    micros first (the micro-nat idiom) and the sum is exact BIGINT.
    Thresholds are then pure integer products/divisions, taken in
    DECIMAL(38,0) (ANOVA overflow class): (total/2)·sqrt_micro·2^20
    passes 2^63 at ~9e4 docs in one language, where BIGINT raised in
    both engines. DuckDB's ``//`` on DECIMAL divides as DOUBLE, so its
    quotient is taken in HUGEINT; Spark's DIV truncates decimals
    exactly. The quotient is ≤ total·2^19, a BIGINT at any corpus."""
    h = D.seeded_h64("CAST(doc_id AS STRING)", _TMIX_SEED, engine)
    budget = D.idiv("total", str(_TMIX_BUDGET_DIV), engine)
    num = f"CAST({budget} AS DECIMAL(38,0)) * sqm * 1048576"
    den = "(CAST(nd AS DECIMAL(38,0)) * ssq)"
    if engine == D.DUCK:
        num, den = f"CAST({num} AS HUGEINT)", f"CAST({den} AS HUGEINT)"
    thr = f"CAST({D.idiv(num, den, engine)} AS BIGINT)"
    return f"""
    WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd
               FROM {table} GROUP BY lang),
    sq AS (SELECT lang, nd,
                  CAST(FLOOR(SQRT(CAST(nd AS DOUBLE)) * 1000000.0 + 0.5)
                       AS BIGINT) AS sqm
           FROM n),
    tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS total,
                   CAST(SUM(sqm) AS BIGINT) AS ssq FROM sq),
    th AS (SELECT lang, nd, sqm,
                  LEAST(CAST(1048576 AS BIGINT), {thr}) AS thr
           FROM sq CROSS JOIN tot),
    kept AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS docs_kept
             FROM {table} d JOIN th ON th.lang = d.lang
             WHERE ({h}) % 1048576 < th.thr
             GROUP BY d.lang)
    SELECT th.lang, th.nd AS docs_in,
           COALESCE(k.docs_kept, CAST(0 AS BIGINT)) AS docs_kept,
           CAST(th.sqm AS DOUBLE) / CAST(ssq AS DOUBLE) AS target_share,
           CAST(th.thr AS DOUBLE) / CAST(1048576 AS DOUBLE) AS keep_frac
    FROM th CROSS JOIN tot
    LEFT JOIN kept k ON k.lang = th.lang
    ORDER BY th.lang"""


@register(
    "dataset_temperature_mixture",
    _temperature_mixture(D.DUCK, "documents"),
    doc="training-data ext: temperature-scaled mixture sampling at "
        "alpha = 0.5 (target share ∝ n^0.5 — the multilingual-LM head-"
        "flattening recipe) toward a half-corpus budget, upsampling "
        "capped at 1. Per-sqrt snap to integer micros keeps the share "
        "denominator an exact BIGINT sum (double SUM is accumulation-"
        "order-dependent); thresholds are all-integer, membership the "
        "content-stable hash gate. Reports per-language in/kept/target "
        "share/keep fraction",
)
def dataset_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bq_tmix_docs"
    )
    # one-shot WITH deliberately (r12 staging REVERTED r13): same
    # runtime-exchange-reuse finding as curation_domain_mixture — the
    # staged count frame measured 0.99× at 10× (flat; the checkpoint
    # job boundary buys nothing).
    # That ratio came from a no-op patch: both arms ran the staged code,
    # so it is noise (OPTIMIZATION_r13 §5 annotation).
    return spark.sql(_temperature_mixture(D.SPARK, "bq_tmix_docs"))


# ----------------------------------------------------- corpus datacard


def _datacard_t_sql(engine: str, table: str) -> str:
    alen = D.alen(D.split_ws("lower(trim(text))", engine), engine)
    th = D.h64("text", engine)
    return (
        f"SELECT doc_id, lang, source, n_chars, "
        f"CAST({alen} AS BIGINT) AS n_tokens, ({th}) AS th "
        f"FROM {table} WHERE text IS NOT NULL"
    )


_DATACARD_METRICS = [
    # (metric, int expr over the 1-row joined stats, double expr)
    ("chars_total", "chars_total", None),
    ("docs_total", "docs_total", None),
    ("docs_with_text", "docs_with_text", None),
    ("exact_dup_docs", "exact_dup_docs", None),
    ("langs", "langs", None),
    ("max_doc_tokens", "max_doc_tokens", None),
    ("mean_doc_tokens", None,
     "CAST(tokens_total AS DOUBLE) / CAST(docs_with_text AS DOUBLE)"),
    ("sources", "sources", None),
    ("texts_distinct", "texts_distinct", None),
    ("tokens_total", "tokens_total", None),
]


def _datacard_oracle() -> str:
    t = _datacard_t_sql(D.DUCK, "documents")
    arms = []
    for m, vi, vd in _DATACARD_METRICS:
        vi_sql = f"CAST({vi} AS BIGINT)" if vi else "CAST(NULL AS BIGINT)"
        vd_sql = f"CAST({vd} AS DOUBLE)" if vd else "CAST(NULL AS DOUBLE)"
        arms.append(
            f"SELECT '{m}' AS metric, {vi_sql} AS v_int, {vd_sql} AS v_dbl"
            " FROM stats"
        )
    arms_sql = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH t AS ({t}),
    dup AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY th),
    stats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS docs_total,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS docs_with_text,
             (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM t) AS tokens_total,
             (SELECT CAST(SUM(n_chars) AS BIGINT) FROM t) AS chars_total,
             (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM t) AS langs,
             (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM t)
               AS sources,
             (SELECT CAST(MAX(n_tokens) AS BIGINT) FROM t)
               AS max_doc_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS texts_distinct,
             (SELECT CAST(SUM(c - 1) AS BIGINT) FROM dup) AS exact_dup_docs
    )
    {arms_sql}
    ORDER BY metric"""


@register(
    "corpus_datacard",
    _datacard_oracle(),
    doc="training-data ext: the data-card summary table every corpus "
        "release ships — doc/token/char mass, language and source "
        "cardinalities, exact-duplicate mass (portable text-hash "
        "groups), and length stats, as one tall (metric, v_int, v_dbl) "
        "frame. Spark side is THREE corpus passes total (tokenize+agg, "
        "dup groupBy+agg, raw count) combined into one row and "
        "unpivoted with stack() — never a scan per metric; the oracle "
        "spells the same stats as scalar subqueries (per-engine text, "
        "identical values)",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs.createOrReplaceTempView("bq_dc_docs")
    # receipt: unstaged/staged 0.89× at 10×, 1.08× at 100×
    # (reports/receipts/nockpt_10x_dataset_dedup.json, nockpt_100x_corpus_datacard.json)
    t = spark.sql(_datacard_t_sql(D.SPARK, "bq_dc_docs")).localCheckpoint(
        eager=False
    )
    t.createOrReplaceTempView("bq_dc_t")
    stats = spark.sql("""
        SELECT a.*, d.texts_distinct, d.exact_dup_docs, r.docs_total
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS docs_with_text,
                     CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
                     CAST(SUM(n_chars) AS BIGINT) AS chars_total,
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
                     CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
                     CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
              FROM bq_dc_t) a
        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS texts_distinct,
                           CAST(SUM(c - 1) AS BIGINT) AS exact_dup_docs
                    FROM (SELECT th, CAST(COUNT(*) AS BIGINT) AS c
                          FROM bq_dc_t GROUP BY th) dup) d
        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS docs_total
                    FROM bq_dc_docs) r
    """)
    stack_args = []
    for m, vi, vd in _DATACARD_METRICS:
        stack_args.append(f"'{m}'")
        stack_args.append(f"CAST({vi} AS BIGINT)" if vi
                          else "CAST(NULL AS BIGINT)")
        stack_args.append(f"CAST({vd} AS DOUBLE)" if vd
                          else "CAST(NULL AS DOUBLE)")
    return (
        stats.selectExpr(
            f"stack({len(_DATACARD_METRICS)}, {', '.join(stack_args)})"
            " AS (metric, v_int, v_dbl)"
        )
        .orderBy("metric")
    )
