"""Text-analysis operators as reusable Column builders (scale path).

Mirrors benchqueries/text_ops.py but as composable DataFrame transforms
using Spark-native hashing — everything stays in whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_STOPWORDS = ("the", "and", "of", "a", "to", "in", "is", "that")


def token_count(col: str = "text") -> F.Column:
    return F.size(F.split(F.trim(F.col(col)), " "))


def stopword_ratio(col: str = "text", stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> F.Column:
    toks = f"split(lower(trim({col})), ' ')"
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    return F.expr(
        f"size(filter({toks}, t -> t IN ({inlist}))) / CAST(size({toks}) AS DOUBLE)"
    )


def punct_ratio(col: str = "text") -> F.Column:
    stripped = F.regexp_replace(F.col(col), r"[.,;:!?]", "")
    return (F.length(col) - F.length(stripped)) / F.length(col).cast("double")


def quality_score(col: str = "text") -> F.Column:
    """0-3 heuristic quality score: enough tokens, sane punctuation
    density, plausible token shape."""
    tok = token_count(col)
    avg_len = F.length(F.regexp_replace(F.col(col), " ", "")) / tok.cast("double")
    return (
        F.when(tok >= 20, 1).otherwise(0)
        + F.when(punct_ratio(col) <= 0.1, 1).otherwise(0)
        + F.when(avg_len.between(3.0, 12.0), 1).otherwise(0)
    ).cast("int")


def fingerprint(col: str = "text") -> F.Column:
    """64-bit content fingerprint of normalized text (xxhash64 — for the
    oracle-portable md5 flavor see functions/compat.h64)."""
    return F.xxhash64(F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " "))


def token_rarity_features(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Corpus-relative token-rarity features per document — the
    frequency-based slice of LM-style quality scoring (docs dominated by
    corpus-rare tokens are disproportionately OCR noise, boilerplate
    mutations, or misspellings).

    Two-pass: (1) global token frequencies — one explode + hash
    aggregate with map-side combine; (2) re-join frequencies onto the
    exploded tokens and re-aggregate per doc. The frequency table is a
    *vocabulary*-sized dim (≪ corpus, Heaps' law), so it is broadcast —
    the corpus itself shuffles once, on the doc id. All features are
    exact-integer or single-division doubles, so the oracle-backed
    flavor (benchqueries/text_ops.text_rarity_score) hash-matches.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.trim(F.col(col))), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    totals = freq.agg(
        F.sum("cnt").alias("total_tokens"), F.count("*").alias("vocab_size")
    )
    # freq deliberately un-hinted: vocabulary grows with the corpus
    # (Heaps' law), so AQE should pick broadcast only while the dim is
    # genuinely small; totals is 1 row — always broadcast
    joined = toks.join(freq, "tok").join(F.broadcast(totals))
    return joined.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        (F.sum("cnt").cast("double") / F.count("*")).alias("avg_tok_freq"),
        F.min("cnt").cast("bigint").alias("rarest_cnt"),
        # "rare" = frequency below half the corpus mean — pure integer
        # comparison (cnt · vocab · 2 ≤ total), no float thresholds
        F.sum(
            F.when(
                F.col("cnt") * F.col("vocab_size") * 2 <= F.col("total_tokens"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rare_tokens"),
    )


def unigram_logprob_features(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    low_quality_cutoff_fp: int = -7_000_000,
) -> DataFrame:
    """CCNet-style unigram language-model quality score per document:
    the average log-probability of the doc's tokens under the corpus's
    own add-one-smoothed unigram LM (low = the doc is made of tokens
    the corpus itself considers improbable — OCR noise, boilerplate
    mutations, wrong-language fragments).

    avg_logprob = (Σ_tok ln(cnt(tok)+1) − n·ln(N+V)) / n with N total
    tokens, V vocabulary size. Cross-engine determinism: a float
    SUM(ln(...)) is accumulation-order-dependent, so each token's log is
    first snapped to FIXED-POINT micro-nats — FLOOR(ln(cnt+1)·1e6 + 0.5)
    AS BIGINT, half-up rounding both engines — and the per-doc
    aggregation is an exact integer SUM; only the final single division
    is floating point. (A last-ulp libm disagreement would need ln() to
    land within 1e-6/2 of a rounding boundary to flip one token's fixed
    point — parity-tested at both SFs.)

    Same two-pass shape as :func:`token_rarity_features`: vocabulary-
    sized frequency dim broadcast back onto the exploded tokens, corpus
    shuffles once on the doc id. ``low_quality`` is an exact integer
    comparison in micro-nats (default cutoff −7.0 nats/token).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.trim(F.col(col))), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    totals = freq.agg(
        F.sum("cnt").alias("total_tokens"), F.count("*").alias("vocab_size")
    )
    den = totals.select(
        F.floor(
            F.log((F.col("total_tokens") + F.col("vocab_size")).cast("double"))
            * 1_000_000.0
            + 0.5
        )
        .cast("bigint")
        .alias("fp_den")
    )
    # no broadcast hint on freq: vocabulary grows with the corpus
    # (Heaps' law — and measured: a salted 500k-doc probe corpus blew
    # the hinted broadcast out to 43 s where AQE's own choice runs 9 s).
    # AQE broadcasts small vocabularies on its own and falls back to a
    # shuffle join when the dim outgrows the budget.
    fp = toks.join(freq, "tok").select(
        id_col,
        F.floor(F.log((F.col("cnt") + 1).cast("double")) * 1_000_000.0 + 0.5)
        .cast("bigint")
        .alias("fp_log"),
    )
    per_doc = fp.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("fp_log").alias("__fp_sum"),
    )
    return per_doc.join(F.broadcast(den)).select(
        id_col,
        "n_tokens",
        (
            (F.col("__fp_sum") - F.col("n_tokens") * F.col("fp_den")).cast("double")
            / (F.col("n_tokens").cast("double") * 1_000_000.0)
        ).alias("avg_logprob"),
        (
            F.col("__fp_sum") - F.col("n_tokens") * F.col("fp_den")
            < F.lit(low_quality_cutoff_fp) * F.col("n_tokens")
        ).alias("low_quality"),
    )


def bigram_logprob_features(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    low_quality_cutoff_fp: int = -9_000_000,
) -> DataFrame:
    """Bigram-LM quality score per document: average conditional token
    log-probability ln P(w_i | w_{i-1}) under the corpus's own add-one
    bigram model, P = (C2(w1,w2)+1) / (C1(w1)+V). The bigram sibling of
    :func:`unigram_logprob_features` — it additionally penalizes docs
    whose TOKEN ORDER the corpus finds improbable (shuffled/templated
    text scores low here while its unigram score can look normal).

    Same fixed-point discipline: each bigram's log snaps to micro-nats
    (FLOOR(ln((C2+1)/(C1+V))·1e6 + 0.5) AS BIGINT — ONE division of
    exact integers, then one ln), the per-doc SUM is exact-integer, and
    only the final reported average divides back to double, so both
    engines hash-match. Docs with < 2 tokens have no bigrams and are
    absent from the result (callers union a default if needed).

    Shape: bigram extraction is exploded-position codegen (no array
    lambdas), the C2/C1 dims are vocabulary-shaped with NO broadcast
    hint (Heaps' law — AQE decides), and the corpus shuffles once on
    the doc id for the final fold. The exploded frames each feed two
    consumers (uni → vocab + the score join; bigrams → C2 + the score
    join), and neither shared frontier is an exchange — without staging,
    the corpus tokenize re-runs once per consumer (4 passes total, the
    CTE-inlining recompute class; measured 12.9 s → 3.4 s at sf0.1). So
    bigrams pre-aggregate to per-doc (w1, w2, count) rows — the score
    join then carries one row per distinct per-doc bigram, weighted
    exactly by its count — and that frame plus the vocabulary-sized C1
    dim lazy-checkpoint inside the operator (first caller action
    materializes them; honest per the working-notes rule)."""
    base = F.trim(F.col(col))
    toks_arr = F.split(F.lower(base), " ")
    toks = df.filter(F.col(col).isNotNull()).select(
        F.col(id_col), F.explode(toks_arr).alias("tok")
    )
    uni = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c1"))
        .localCheckpoint(eager=False)
    )
    vocab = uni.agg(F.count("*").cast("bigint").alias("v"))

    pos = df.filter(F.col(col).isNotNull()).select(
        F.col(id_col),
        toks_arr.alias("__t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(toks_arr) - 1, F.lit(1)))
        ).alias("__i"),
    ).filter(F.col("__i") + 1 <= F.size("__t"))
    bigrams = pos.select(
        id_col,
        F.element_at("__t", F.col("__i")).alias("w1"),
        F.element_at("__t", F.col("__i") + 1).alias("w2"),
    )
    # per-doc bigram multiplicities: every downstream sum over bigram
    # INSTANCES becomes an exact integer sum weighted by __bc, so the
    # result is identical while the join input shrinks to distinct
    # (doc, w1, w2) rows and the explode runs exactly once
    bg_counts = (
        bigrams.groupBy(id_col, "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("__bc"))
        .localCheckpoint(eager=False)
    )
    c2 = bg_counts.groupBy("w1", "w2").agg(F.sum("__bc").alias("c2"))
    fp = (
        bg_counts.join(c2, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .join(F.broadcast(vocab))
        .select(
            id_col,
            F.col("__bc"),
            F.floor(
                F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * 1_000_000.0
                + 0.5
            )
            .cast("bigint")
            .alias("fp_log"),
        )
    )
    per_doc = fp.groupBy(id_col).agg(
        F.sum("__bc").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("fp_log") * F.col("__bc")).alias("__fp_sum"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        (
            F.col("__fp_sum").cast("double")
            / (F.col("n_bigrams").cast("double") * 1_000_000.0)
        ).alias("avg_logprob"),
        (
            F.col("__fp_sum") < F.lit(low_quality_cutoff_fp) * F.col("n_bigrams")
        ).alias("low_quality"),
    )


def tfidf_vectors(
    df: DataFrame,
    col: str = "text",
    num_features: int = 1 << 12,
    min_doc_freq: int = 2,
) -> tuple[DataFrame, object]:
    """MLlib TF-IDF vectorization (SURVEY §7.2 step 8 stretch):
    Tokenizer → HashingTF → IDF. Returns (df + 'tfidf' vector column,
    fitted IDF model for scoring new corpora with the same weights).

    HashingTF (fixed-width feature hashing) rather than CountVectorizer:
    no vocabulary broadcast, no driver-side dictionary — the variant
    that survives a 100 TB corpus.
    """
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    toks = Tokenizer(inputCol=col, outputCol="__tok").transform(df)
    tf = HashingTF(
        inputCol="__tok", outputCol="__tf", numFeatures=num_features
    ).transform(toks)
    idf_model = IDF(inputCol="__tf", outputCol="tfidf", minDocFreq=min_doc_freq).fit(tf)
    return idf_model.transform(tf).drop("__tok", "__tf"), idf_model


def tfidf_knn(
    vectors: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    n_queries: int = 5,
) -> DataFrame:
    """Top-k most similar docs per query doc by TF-IDF cosine — sparse
    dot products via a JVM expression over the SparseVector internals
    would be awkward; at corpus scale route through MinHashLSH or the
    embedding ANN operators instead. Here: bounded query set, exact."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q = vectors.limit(n_queries).select(id_col, "tfidf").collect()
    q_ids = [r[0] for r in q]
    dim = q[0][1].size
    q_dense = [np.asarray(r[1].toArray()) for r in q]
    q_norms = [float(np.linalg.norm(v)) or 1.0 for v in q_dense]

    def _to_dense(v) -> np.ndarray:
        # VectorUDT crosses Arrow as a struct dict: {type, size, indices, values}
        if isinstance(v, dict):
            if v.get("type") == 1:  # dense
                return np.asarray(v["values"], dtype=np.float64)
            out = np.zeros(v["size"] if v.get("size") else dim)
            out[np.asarray(v["indices"], dtype=np.int64)] = v["values"]
            return out
        return np.asarray(v.toArray())

    def score(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, row in pdf.iterrows():
                v = _to_dense(row["tfidf"])
                nv = float(np.linalg.norm(v)) or 1.0
                for qid, qv, nq in zip(q_ids, q_dense, q_norms):
                    rows.append((qid, row[id_col], float(qv @ v) / (nq * nv)))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cos_sim"])

    scored = vectors.select(id_col, "tfidf").mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def with_text_features(df: DataFrame, col: str = "text") -> DataFrame:
    return (
        df.withColumn("n_tokens", token_count(col))
        .withColumn("punct_ratio", punct_ratio(col))
        .withColumn("stopword_ratio", stopword_ratio(col))
        .withColumn("quality_score", quality_score(col))
        .withColumn("fingerprint", fingerprint(col))
    )


def deletion_variants(
    df: DataFrame, id_col: str, str_col: str, out_col: str = "__variant"
) -> DataFrame:
    """``(id, variant)`` rows: the string itself plus every single-char
    deletion (FastSS neighborhood for edit distance ≤ 1). Positions are
    exploded (Generate is codegen) and variants built with substr concat
    — len+1 rows per string, no Python."""
    pos = F.explode(F.sequence(F.lit(0), F.length(str_col))).alias("__p")
    out = df.select(id_col, str_col, pos)
    variant = F.when(F.col("__p") == 0, F.col(str_col)).otherwise(
        F.concat(
            F.substring(F.col(str_col), 1, F.col("__p") - F.lit(1)),
            F.expr(f"substr({str_col}, __p + 1)"),
        )
    )
    return out.select(id_col, variant.alias(out_col))


def fuzzy_join_ed1(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    left_str: str = "l_str",
    right_id: str = "r_id",
    right_str: str = "r_str",
) -> DataFrame:
    """All (left, right) pairs within edit distance ≤ 1, without the
    O(n·m) levenshtein theta join (which Spark would plan as a nested
    loop — the same cliff embedding_near_dup hit, benchqueries/advanced).

    Block on shared deletion-neighborhood variants (two strings at
    distance ≤ 1 always share one; sharing one only bounds distance ≤ 2),
    then verify candidates with exact levenshtein. Cost: an equi-join on
    variant strings — (len+1) rows per side — plus levenshtein on the
    surviving candidate set only."""
    lv = deletion_variants(left, left_id, left_str)
    rv = deletion_variants(right, right_id, right_str)
    cand = lv.join(rv, "__variant").select(left_id, right_id).distinct()
    return (
        cand.join(left.select(left_id, left_str), left_id)
        .join(right.select(right_id, right_str), right_id)
        .withColumn("edit_dist", F.levenshtein(left_str, right_str))
        .filter(F.col("edit_dist") <= 1)
        .select(left_id, right_id, "edit_dist")
    )
