"""BPE vocabulary learning over a distributed corpus (Sennrich,
Haddow & Birch, ACL 2016 — "Neural Machine Translation of Rare Words
with Subword Units"), the tokenizer-training half of an LLM data
pipeline.

Spark-first shape (the part that matters at 100 TB): the corpus is
touched EXACTLY ONCE — a tokenize + groupBy into the word-frequency
table — and every merge iteration runs over that vocabulary-sized
relation only, which is how every production BPE trainer works
(corpus size and iteration cost are decoupled). A vocabulary of at most
``SMALL_VOCAB_CAP`` words (read at call time; tests and scripts/ab.py's
``set:`` arm pin the distributed loop by setting it to 0) is collected
once and merged driver-side. Past the cap, the per-iteration
argmax is a 1-row collect (same bounded driver action as PageRank's
convergence probe), and the word table is eagerly localCheckpointed
each round so plan depth stays O(1) across hundreds of merges
(persist() bounds recompute but not logical-plan depth — CLAUDE.md,
the PageRank depth-OOM lesson).

The adjacent-pair count and the merge application are interpreted
higher-order array expressions — acceptable ONLY because they run on
the vocabulary table (Heaps-law-sized, millions of rows at worst),
never the corpus. Encoding the corpus with the learned merges is the
opposite trade: per-row Python over every document, so it is an
Arrow-batched kernel with the merge ranks broadcast once.

Reference spec: github.com/rsennrich/subword-nmt learn_bpe.py
(greedy left-to-right merge, most-frequent pair first); tie-break
here is deterministic (count DESC, then lexicographic pair) so the
learned merge list is reproducible across partitionings and engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

END_OF_WORD = "▁"  # marks word end so merges never cross words


def word_symbol_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The one corpus pass: whitespace-tokenize, count word frequencies,
    split each distinct word into single-character symbols with an
    end-of-word marker appended to the last character. Returns
    (word, freq bigint, syms array<string>)."""
    words = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(F.split(F.lower(F.trim(text_col)), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    # split('','') yields chars plus a trailing empty string in some
    # engines; regexp-free char split via split on empty pattern is
    # Spark-stable: split('abc', '') = [a, b, c]
    syms = F.expr(
        "transform(split(word, ''), (c, i) -> "
        f"IF(i = length(word) - 1, concat(c, '{END_OF_WORD}'), c))"
    )
    return words.withColumn("syms", syms)


def _apply_merge(table: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right application of merge (a, b) to the symbol
    array: fold each symbol into the output, replacing a trailing
    [.., a] + incoming b with [.., a||b]. The merged token is strictly
    longer than `a`, so it can never itself match `a` and chain into an
    overlapping re-merge ('aaa' under (a,a) → ['aa','a'], the reference
    behavior). The pair is bound as literal COLUMNS referenced from the
    lambda (no SQL-string splicing — symbols may contain quotes or
    backslashes)."""
    fold = F.expr(
        "aggregate(syms, CAST(array() AS array<string>), (acc, s) -> "
        "IF(size(acc) > 0 AND element_at(acc, -1) = __ma AND s = __mb, "
        "concat(slice(acc, 1, size(acc) - 1), array(concat(__ma, __mb))), "
        "concat(acc, array(s))))"
    )
    return (
        table.withColumn("__ma", F.lit(a))
        .withColumn("__mb", F.lit(b))
        .withColumn("syms", fold)
        .drop("__ma", "__mb")
    )


def _learn_bpe_driver(
    word_freqs: list[tuple[str, int]],
    n_merges: int,
    min_pair_freq: int,
) -> list[tuple[str, str, int]]:
    """Driver-side merge loop over a collected word-frequency table —
    bit-identical to the distributed loop (same greedy left-to-right
    apply, same count-DESC-then-lexicographic argmax; Python str
    comparison is code-point order = Spark's UTF8String binary order).
    Pinned against the distributed path in tests."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        syms = tuple(list(w[:-1]) + [w[-1] + END_OF_WORD])
        vocab[syms] = vocab.get(syms, 0) + f
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_freq:
            break
        merges.append((a, b, cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


# Vocabulary cap for the driver-side merge loop: 200k distinct words ×
# ~50 B is a ~10 MB bounded collect (the dedup.SMALL_GRAPH_CAP class —
# bounded driver state, never corpus-scaled). Heaps-law vocabularies of
# web-scale corpora (10⁷–10⁸ types with junk) exceed it and take the
# distributed loop.
SMALL_VOCAB_CAP = 200_000


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns
    [(left, right, weighted_count), ...] in merge order. Stops early
    when the best pair's weighted frequency falls below
    ``min_pair_freq`` (merging hapax pairs is noise — reference
    trainer's default cutoff).

    When the word-frequency table (the ONE corpus pass, checkpointed
    either way) has at most ``SMALL_VOCAB_CAP`` distinct words, the
    merge loop runs driver-side over the collected table — one bounded
    collect replacing ~2 jobs per merge of fixed scheduler overhead on
    a vocabulary-sized frame (the dedup_clusters pattern; every
    production BPE trainer is in-memory at this stage). Same argmax
    tie-break, same greedy apply — result lists are identical
    (test-pinned).
    """
    table = word_symbol_table(docs, text_col).localCheckpoint(eager=True)
    if table.count() <= SMALL_VOCAB_CAP:
        rows = table.select("word", "freq").collect()
        table.unpersist()
        return _learn_bpe_driver(
            [(r["word"], int(r["freq"])) for r in rows], n_merges, min_pair_freq
        )
    merges: list[tuple[str, str, int]] = []
    pair_i = F.explode(
        F.expr("sequence(1, size(syms) - 1)")
    ).alias("__i")
    try:
        for _ in range(n_merges):
            best = (
                table.filter(F.size("syms") > 1)
                .select("freq", "syms", pair_i)
                .select(
                    "freq",
                    F.expr("element_at(syms, __i)").alias("a"),
                    F.expr("element_at(syms, __i + 1)").alias("b"),
                )
                .groupBy("a", "b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] < min_pair_freq:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merges.append((a, b, cnt))
            nxt = _apply_merge(table, a, b).localCheckpoint(eager=True)
            table.unpersist()
            table = nxt
    finally:
        table.unpersist()
    return merges


def merges_frame(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(rank, left, right, merged, weighted_count) frame from a learned
    merge list — the persistable artifact."""
    rows = [
        (i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, weighted_count bigint",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge list: per doc, an array of
    subword tokens (end-of-word marker retained, so the encoding is
    lossless: strip markers + concat reproduces the lowercased text).

    This IS per-row Python over the whole corpus — the one place the
    trade is honest: encoding priority-merges each word by rank, a
    data-dependent loop no JVM expression expresses. Arrow-batched
    (mapInPandas), merge ranks broadcast once per executor, with a
    per-batch word cache (Zipf: a few thousand distinct words cover
    most tokens, so the cache's hit rate is the corpus' redundancy)."""
    from collections.abc import Iterator

    import pandas as pd

    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    id_t = dict(docs.dtypes)[id_col]
    src = docs.select(id_col, text_col).filter(F.col(text_col).isNotNull())

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word[:-1]) + [word[-1] + END_OF_WORD]
        while len(syms) > 1:
            cand = [
                (ranks[p], i)
                for i, p in enumerate(zip(syms, syms[1:]))
                if p in ranks
            ]
            if not cand:
                break
            rank, _ = min(cand)
            a, b = merges[rank][0], merges[rank][1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            toks = [
                [
                    t
                    for w in str(txt).lower().strip().split(" ")
                    if w
                    for t in encode_word(w, cache)
                ]
                for txt in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "tokens": toks})

    return src.mapInPandas(kernel, f"{id_col} {id_t}, tokens array<string>")
