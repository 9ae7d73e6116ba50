"""Corpus-curation operators (training-data pipeline): benchmark
decontamination, repetition (Gopher-style) filtering, PII scrubbing, and
domain-mixture sampling.

Beyond the reference surface — these are the curation passes a
large-scale LLM training-data pipeline runs between dedup and packing.
The oracle-checked flavors live in ``benchqueries/curation_ops.py``
(portable md5 hashing so DuckDB can verify); these are the production
variants built for 100 TB:

- decontamination: benchmark n-gram set is tiny next to the corpus →
  hash the grams (xxhash64) and BROADCAST them; the corpus side is one
  narrow map (explode positions, codegen) + a broadcast semi-join. No
  shuffle of corpus text, ever.
- repetition stats: one explode of token positions feeds both the
  token-level aggregate and the bigram top-count — two map-side-combined
  hash aggregates keyed on doc_id, joined doc-to-doc.
- PII scrub: pure ``regexp_replace``/``regexp_extract_all`` column
  expressions (whole-stage codegen; no Python).
- mixture sampling: per-domain keep-fractions derived from a weights
  table joined against per-domain counts (both tiny → broadcast);
  membership is a deterministic hash bucket per row, so the sample is
  reproducible and re-runnable without a seed-state shuffle.

All JVM expressions; no ``collect()`` — the scalar corpus total rides a
broadcast single-row cross join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# (name, java-regex, replacement token). ASCII-only classes so behavior
# is predictable across regex engines; extend per-deployment.
DEFAULT_PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]?\d{0,4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def word_ngram_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    lower: bool = True,
) -> DataFrame:
    """``(id_col, __gram)`` — one row per word-n-gram occurrence, gram as
    a string. Codegen end to end: positions are exploded (Generate
    supports whole-stage codegen), the token array is built once per
    doc, and ``element_at`` indexing + concat are plain expressions — no
    interpreted array lambdas (the HOF footgun)."""
    base = F.trim(F.col(text_col))
    toks = F.split(F.lower(base) if lower else base, " ")
    pos = docs.select(
        F.col(id_col),
        toks.alias("__t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        ).alias("__i"),
    ).filter(F.col("__i") + (n - 1) <= F.size("__t"))
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__t"), F.col("__i") + j) for j in range(n)]
    )
    return pos.select(id_col, gram.alias("__gram"))


def word_ngram_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """``(id_col, __g)`` — word-n-gram occurrences with gram identity as
    xxhash64, the shuffle-friendly form (8 bytes per gram instead of the
    string)."""
    return word_ngram_rows(docs, id_col, text_col, n).select(
        id_col, F.xxhash64("__gram").alias("__g")
    )


def benchmark_ngrams(
    benchmark: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct gram-hash set of a benchmark/eval suite (single ``__g``
    column). Benchmark suites are MBs against a 100-TB corpus — the
    caller broadcasts this."""
    return word_ngram_hashes(benchmark, id_col, text_col, n).select("__g").distinct()


def contaminated_ids(
    corpus: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Docs sharing ≥1 word-n-gram with the benchmark set. The corpus
    side never shuffles: explode → broadcast-semi-join → distinct ids
    (the only shuffle is on the matched ids, a tiny fraction)."""
    grams = word_ngram_hashes(corpus, id_col, text_col, n)
    return (
        grams.join(F.broadcast(bench_grams), "__g", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Remove corpus docs that leak benchmark n-grams (the standard
    eval-decontamination pass). ``n`` is deployment-tuned (8–13 word
    grams in practice; the synthetic corpus's tiny vocabulary reaches
    the same collision regime at n=3)."""
    bad = contaminated_ids(corpus, benchmark_ngrams(benchmark, id_col, text_col, n),
                           id_col, text_col, n)
    return corpus.join(bad, id_col, "left_anti")


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_word_frac: float = 0.65,
    max_top_bigram_frac: float = 0.15,
) -> DataFrame:
    """Per-doc repetition profile (Gopher-rule style): duplicate-word
    fraction and most-frequent-bigram mass, plus a ``repetitive`` flag.
    One narrow explode feeds two doc-keyed hash aggregates (map-side
    combined); nothing quadratic, no arrays retained past the map."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), " ")
    pos = docs.select(
        F.col(id_col),
        toks.alias("__t"),
        F.explode(F.sequence(F.lit(1), F.size(toks))).alias("__i"),
    )
    occ = pos.select(
        id_col,
        F.xxhash64(F.element_at("__t", F.col("__i"))).alias("__w"),
        F.when(
            F.col("__i") < F.size("__t"),
            F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at("__t", F.col("__i")),
                    F.element_at("__t", F.col("__i") + 1),
                )
            ),
        ).alias("__bg"),
    )
    words = occ.groupBy(id_col).agg(
        F.count("__w").alias("n_tokens"),
        F.countDistinct("__w").alias("distinct_tokens"),
    )
    top_bg = (
        occ.filter(F.col("__bg").isNotNull())
        .groupBy(id_col, "__bg")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("top_bigram_n"))
    )
    prof = words.join(top_bg, id_col).select(
        id_col,
        "n_tokens",
        "distinct_tokens",
        "top_bigram_n",
        (1.0 - F.col("distinct_tokens") / F.col("n_tokens")).alias("dup_word_frac"),
        (2.0 * F.col("top_bigram_n") / F.col("n_tokens")).alias("top_bigram_frac"),
    )
    return prof.withColumn(
        "repetitive",
        (F.col("dup_word_frac") > max_dup_word_frac)
        | (F.col("top_bigram_frac") > max_top_bigram_frac),
    )


def drop_repetitive(docs: DataFrame, id_col: str = "doc_id", **thresholds) -> DataFrame:
    flagged = (
        repetition_stats(docs, id_col=id_col, **thresholds)
        .filter(F.col("repetitive"))
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = DEFAULT_PII_PATTERNS,
) -> DataFrame:
    """Redact PII-shaped spans in place and count matches per pattern
    (``<name>_redacted`` int columns). Sequential regexp_replace chain —
    entirely JVM expressions, so the pass costs one codegen'd map over
    the corpus with zero shuffle."""
    out = df
    scrubbed = F.col(text_col)
    for name, pat, token in patterns:
        out = out.withColumn(
            f"{name}_redacted", F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return out.withColumn(text_col, scrubbed)


def domain_mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    target_total: int | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic downsample toward a target domain mixture.

    Per-domain keep-fraction ``min(1, w_d · T / n_d)`` where ``T`` is the
    target corpus size (default: current total) and ``n_d`` the domain's
    available rows — i.e. sample each domain toward its share of the
    target mixture, never upsampling. Membership is a fixed hash bucket
    of the row id (``xxhash64 % 1e6``), so re-runs and incremental
    appends keep/drop the same rows — no RNG state, no seed shuffle.

    Domains-with-weights is a driver-side dict by construction (it's a
    config), so the fractions table is built locally and BROADCAST onto
    the corpus: the corpus itself never shuffles — the whole sample is
    one codegen'd filter."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in weights.items()], [domain_col, "__w"]
    )
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n"))
    tot = (
        df.agg(F.count("*").alias("__tot"))
        if target_total is None
        else spark.createDataFrame([(target_total,)], ["__tot"])
    )
    fracs = (
        counts.join(wdf, domain_col)
        .crossJoin(F.broadcast(tot))
        .select(
            domain_col,
            F.least(F.lit(1.0), F.col("__w") * F.col("__tot") / F.col("__n")).alias("__f"),
        )
    )
    bucket = F.pmod(F.xxhash64(F.concat_ws("#", F.lit(salt), F.col(id_col))), F.lit(1_000_000))
    return (
        df.join(F.broadcast(fracs), domain_col)
        .filter(bucket < F.floor(F.col("__f") * 1_000_000))
        .drop("__f")
    )


def temperature_weights(
    df: DataFrame, domain_col: str = "source", alpha: float = 0.5
) -> dict[str, float]:
    """Temperature-scaled mixture weights w_d ∝ n_d^alpha (alpha = 0.5
    is the multilingual-LM standard; alpha -> 0 flattens to uniform,
    alpha = 1 is proportional/no-op). Feed the result to
    :func:`domain_mixture_sample` — domain counts are a groupBy away
    and the domain list is config-sized, so the collect is bounded by
    domain cardinality, never the corpus. The oracle-checked flavor is
    benchqueries/dataset_ops.dataset_temperature_mixture."""
    counts = {
        r[0]: r[1] for r in df.groupBy(domain_col).count().collect()
    }
    tot = sum(c**alpha for c in counts.values())
    return {d: (c**alpha) / tot for d, c in counts.items()}


def quality_logistic_scores(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    bias_nano: int = 0,
) -> DataFrame:
    """Model-based quality-classifier INFERENCE — the gate between
    dedup and mixture sampling that heuristic signals (repetition,
    entropy, LM logprob) don't cover. The model is a logistic
    classifier over hashed bag-of-words features whose weights arrive
    as a TABLE (``(fb, w_nano)`` — integer nano-weights from an offline
    trainer); inference is therefore pure relational algebra:

      tokenize → hash tokens into ``n_buckets`` (xxhash64) → per-(doc,
      bucket) counts → broadcast-join the weight table → exact BIGINT
      dot product Σ c·w_nano → length-normalize by integer division →
      ``z_nano = dot DIV n_tokens + bias_nano``.

    The keep decision is ``z_nano >= 0`` (⟺ sigmoid(z) >= 0.5) — a pure
    integer comparison, no transcendental in the gate, so composition
    into a pipeline stays engine-exact. ``score = sigmoid(z)`` is also
    returned for ranking/reporting (double; snap before cross-engine
    comparison — see benchqueries/curation_ops._quality_score).

    100-TB shape: one corpus pass (explode + map-side-combined count),
    weight table is ``n_buckets`` rows → broadcast; the dot product is
    a second map-side-combinable agg keyed by doc. Nothing corpus-
    scaled ever shuffles except the (doc, bucket) count rows. BIGINT
    bound: |dot| <= n_tokens·max|w_nano| — at 2e9 nano-weights a doc
    would need ~4e9 tokens to overflow; per-doc, not per-corpus, so no
    DECIMAL promotion is needed.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("__tok"),
    )
    fc = (
        toks.select(
            id_col,
            F.pmod(F.xxhash64("__tok"), F.lit(n_buckets)).alias("fb"),
        )
        .groupBy(id_col, "fb")
        .agg(F.count("*").alias("__c"))
    )
    dot = (
        fc.join(F.broadcast(weights), "fb")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("__c") * F.col("w_nano")).alias("__dot"),
            F.sum("__c").alias("n_tokens"),
        )
    )
    z = F.expr(f"__dot DIV n_tokens + {bias_nano}")
    return dot.select(
        id_col,
        "n_tokens",
        z.alias("z_nano"),
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-z.cast("double") / F.lit(1_000_000_000.0)))
        ).alias("score"),
        (z >= 0).alias("keep"),
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr-class duplicated-passage detection, scale path:
    k-token windows that occur at more than one (doc, position)
    globally, merged per doc into maximal spans (starts ≤ k apart
    fuse). Returns (id, n_tokens, dup_spans, dup_tokens, dup_frac) for
    affected docs.

    Scale shape vs the oracle-backed SQL twin
    (benchqueries/curation_ops.curation_duplicated_spans, same
    semantics, equivalence-pinned): windows shuffle as xxhash64 LONGS,
    not k-token strings — the global duplicate count is a window
    COUNT over an 8-byte key (one pass, no self-join), and only marked
    positions reach the per-doc islands window. Collisions are 2⁻⁶⁴
    per window pair — the same accepted class as every other hashed
    dedup stage here.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), " ").alias("ts"),
    )
    win = (
        toks.filter(F.size("ts") >= k)
        .select(
            id_col,
            F.col("ts"),
            F.explode(F.sequence(F.lit(1), F.size("ts") - (k - 1))).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.xxhash64(F.array_join(F.slice(F.col("ts"), F.col("pos"), k), " ")).alias("wh"),
        )
    )
    marked = win.withColumn("c", F.count("*").over(Window.partitionBy("wh")))
    dup = marked.filter(F.col("c") > 1).withColumn(
        "prev", F.lag("pos").over(Window.partitionBy(id_col).orderBy("pos"))
    )
    isl = dup.withColumn(
        "island",
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1)
            .otherwise(0)
        ).over(
            Window.partitionBy(id_col)
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy(id_col, "island").agg(
        F.min("pos").cast("bigint").alias("s"),
        (F.max("pos") + (k - 1)).cast("bigint").alias("e"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    )
    sizes = toks.select(id_col, F.size("ts").cast("bigint").alias("n_tokens"))
    return per_doc.join(sizes, id_col).select(
        id_col,
        "n_tokens",
        "dup_spans",
        "dup_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias("dup_frac"),
    )


def span_dedup_remove(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-document repeated-substring REMOVAL (Lee et al. 2022
    ExactSubstr class), scale path — the removal counterpart of
    :func:`duplicated_spans` and the xxhash64 twin of the oracle-backed
    ``curation_span_dedup`` SQL (benchqueries/curation_ops._span_dedup,
    equivalence-pinned): every duplicated k-token window keeps its
    corpus-wide FIRST occurrence (rank over (doc_id, pos) within the
    window hash); non-canonical occurrences mark their k positions;
    marks merge to maximal spans per doc; marked tokens are dropped and
    the cleaned token stream re-joined.

    Returns one row per input doc::

        id, n_tokens, dup_spans, tokens_removed, clean_text

    ``clean_text`` is the NORMALIZED token stream (lower/trim, single
    spaces) minus removed spans — the representation a training-data
    pipeline feeds forward, not a byte-identical edit of the original.

    Null-text contract (r10 ADVICE 3): rows with NULL ``text_col`` are
    dropped inside the operator — same contract as the SQL twin's
    ``WHERE text IS NOT NULL`` — so callers need no pre-filter and the
    per-source accounting matches the oracle unconditionally.

    Scale shape: windows shuffle as 8-byte xxhash64 longs (2^-64
    collision class, same as every hashed dedup stage here). The
    canonical occurrence is MIN(struct(doc_id, pos)) per window hash —
    ONE map-combinable aggregation (struct MIN plans as SortAggregate
    but still partial-agg + one shuffle, the CLAUDE.md argmax idiom)
    rather than a row_number window over the hash partition: the
    canonical RESOLUTION folds map-side (dup_first is one row per
    duplicated window hash regardless of virality, where the window
    shape buffers the hot key's full row set to rank it).

    The join BACK is one merge-hinted join, not a broadcast: the
    dup-window table scales with the corpus (the static-broadcast OOM
    class). A hot window hash needs no path of its own: best-of-2
    round-robin at 1M docs / 500k occurrences per hot hash measured the
    plain merge at 6.8 s against 8.1 s for a broadcast skew split
    (which pays a second full probe scan), and AQE's skew join already
    splits SMJ partitions past its 256 MB threshold. Only marked
    positions reach the per-doc islands window; reconstruction is a JVM
    higher-order filter (spans per doc are few — no Python in the row
    path).
    """
    from pyspark.sql import Window

    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), " ").alias("ts"),
    )
    win = (
        toks.filter(F.size("ts") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("ts") - (k - 1))).alias("pos"),
            F.xxhash64(
                F.array_join(F.slice(F.col("ts"), F.col("pos"), k), " ")
            ).alias("wh"),
        )
        .localCheckpoint(eager=False)  # referenced by the agg AND the join
    )
    dup_first = (
        win.groupBy("wh")
        .agg(F.min(F.struct(id_col, "pos")).alias("first"), F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("wh", "first")
    )
    marks = (
        win.join(dup_first.hint("merge"), "wh")
        .filter(F.struct(id_col, "pos") != F.col("first"))
        .select(id_col, "pos")  # (doc, pos) unique: wh is unique in dup_first
    )
    rm = marks.withColumn(
        "prev", F.lag("pos").over(Window.partitionBy(id_col).orderBy("pos"))
    )
    isl = rm.withColumn(
        "island",
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1)
            .otherwise(0)
        ).over(
            Window.partitionBy(id_col)
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").cast("bigint").alias("s"),
            (F.max("pos") + (k - 1)).cast("bigint").alias("e"),
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"),
            F.count("*").cast("bigint").alias("dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("tokens_removed"),
        )
    )
    joined = toks.join(spans, id_col, "left")
    clean = F.expr(
        "array_join(transform(filter("
        "transform(ts, (t, i) -> struct(t AS t, i + 1 AS p)), "
        "x -> spans IS NULL OR NOT exists(spans, sp -> x.p >= sp.s AND x.p <= sp.e)"
        "), x -> x.t), ' ')"
    )
    return joined.select(
        id_col,
        F.size("ts").cast("bigint").alias("n_tokens"),
        F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
        F.coalesce("tokens_removed", F.lit(0)).alias("tokens_removed"),
        clean.alias("clean_text"),
    )


def top_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    topn: int = 20,
) -> DataFrame:
    """Scale twin of benchqueries/curation_ops.curation_top_passages:
    the heavy global group-by runs on xxhash64 WINDOW HASHES (8-byte
    shuffle keys instead of k-token strings), the top-N survivors are
    selected by (occurrences, then min-hash) — and only those N map
    back to their passage strings via a semi-join re-scan. At 100 TB
    the string column never enters the wide shuffle; the re-scan
    touches one window per surviving hash.

    Ordering note: ties in occurrence count break on the window HASH
    here (deterministic, but a different tiebreak than the SQL twin's
    passage string) — the report is for human review, not a hash gate.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), " ").alias("ts"),
    )
    win = (
        toks.filter(F.size("ts") >= k)
        .select(
            id_col,
            F.col("ts"),
            F.explode(F.sequence(F.lit(1), F.size("ts") - (k - 1))).alias("pos"),
        )
        .select(
            id_col,
            F.array_join(F.slice(F.col("ts"), F.col("pos"), k), " ").alias("w"),
        )
        .select(id_col, F.xxhash64("w").alias("wh"))
    )
    top = (
        win.groupBy("wh")
        .agg(
            F.count("*").cast("bigint").alias("occurrences"),
            F.count_distinct(id_col).cast("bigint").alias("n_docs"),
        )
        .filter(F.col("occurrences") > 1)
        .orderBy(F.desc("occurrences"), F.asc("wh"))
        .limit(topn)
    )
    # map the N surviving hashes back to strings: re-derive windows for
    # a bounded join (broadcast: topn rows)
    strings = (
        toks.filter(F.size("ts") >= k)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("ts") - (k - 1))).alias("pos"),
            F.col("ts"),
        )
        .select(F.array_join(F.slice(F.col("ts"), F.col("pos"), k), " ").alias("passage"))
        .select("passage", F.xxhash64("passage").alias("wh"))
        .dropDuplicates(["wh"])
    )
    return (
        strings.join(F.broadcast(top), "wh")
        .select("passage", "occurrences", "n_docs")
        .orderBy(F.desc("occurrences"), F.asc("passage"))
    )
