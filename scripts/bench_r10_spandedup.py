"""Scale probe for operators/curation.span_dedup_remove (r10 stretch op).

Corpus: n docs of ~60 hash-derived tokens; 10% of docs embed a shared
64-token boilerplate block (the cross-doc repeated substring), and 2%
replay the previous doc's full text (whole-doc duplication — the
degenerate case span removal must also handle). Collect + checksum
(never a prunable count, CLAUDE.md).

Pass bar: seconds ~linear in docs; exactly one canonical copy of the
boilerplate block survives corpus-wide (total kept boilerplate tokens
== one block), and replayed docs empty out to zero kept tokens.

Usage: python scripts/bench_r10_spandedup.py [--full]
"""

from __future__ import annotations

import argparse
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_bigdata_pipeline_spark.operators.curation import span_dedup_remove
from nyc_taxi_bigdata_pipeline_spark.session import get_spark
from scripts.bench_r4_skew import timed

BOILER = " ".join(f"bp{i}" for i in range(64))


def synth_docs(spark, n_docs: int, words: int = 60):
    toks = ", ".join(
        f"concat('w', abs(xxhash64(id, {i}, 13)) % 50000)" for i in range(words)
    )
    uniq = f"concat_ws(' ', {toks})"
    base = (
        spark.range(n_docs)
        .selectExpr(
            "id AS doc_id",
            # 2%: replay previous doc's text; 10%: embed the boilerplate
            f"CASE WHEN id % 50 = 1 THEN NULL "
            f"     WHEN id % 10 = 3 THEN concat({uniq}, ' ', '{BOILER}') "
            f"     ELSE {uniq} END AS text",
            "id % 50 = 1 AS is_replay",
        )
    )
    prev = base.selectExpr("doc_id + 1 AS doc_id", "text AS prev_text")
    return (
        base.join(prev, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CASE WHEN is_replay THEN prev_text ELSE text END AS text",
        )
        .repartition(32, "doc_id")
        .localCheckpoint(eager=True)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--full", action="store_true", help="add the 300k tier")
    args = ap.parse_args()
    spark = get_spark("bench-r10-spandedup")

    for n in [30_000, 100_000] + ([300_000] if args.full else []):
        docs = synth_docs(spark, n)
        got = {}
        timed(
            f"span_dedup_remove @ {n} docs",
            lambda: got.setdefault(
                "rows",
                span_dedup_remove(docs, k=8)
                .select("doc_id", "n_tokens", "tokens_removed", "dup_spans",
                        F.size(F.split("clean_text", " ")).alias("kept"))
                .collect(),
            )
            and None,
        )
        rows = got["rows"]
        checksum = sum(r.tokens_removed + r.dup_spans for r in rows)
        # one canonical boilerplate block survives corpus-wide
        n_boiler_docs = sum(1 for r in rows if r.n_tokens >= 60 + 64)
        removed_boiler = sum(
            r.tokens_removed for r in rows if r.n_tokens >= 60 + 64
        )
        print(
            f"  -> {len(rows)} docs, checksum {checksum}, "
            f"boiler docs {n_boiler_docs}, boiler tokens removed "
            f"{removed_boiler} (expect ~{(n_boiler_docs - 1) * 64})"
        )


if __name__ == "__main__":
    main()


def viral_probe(spark, n_docs: int = 1_000_000) -> None:
    """Skew stress for the CANONICAL-MARKING stage: ONE 16-token
    boilerplate block in 50% of docs (= n/2 occurrences of each of its
    9 window hashes — a genuinely viral key). Times the SAME stage both
    ways on the same corpus: the shipped map-combinable MIN(struct) agg
    + join-back vs the rejected row_number window over the hash
    partition (single-task sort of the hot key). Both sides count the
    identical non-canonical mark set. Timings are best-of-2 ROUND-ROBIN
    passes (r11): single-shot shape timings swing 2-3x with JIT order —
    whichever shape runs first pays its codegen compilation (measured
    agg-canonical 18 s vs 37 s across two sessions, same code)."""
    import time

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    k = 8
    toks = ", ".join(
        f"concat('w', abs(xxhash64(id, {i}, 17)) % 50000)" for i in range(40)
    )
    viral = " ".join(f"vp{i}" for i in range(16))
    docs = (
        spark.range(n_docs)
        .selectExpr(
            "id AS doc_id",
            f"CASE WHEN id % 2 = 0 THEN concat_ws(' ', {toks}, '{viral}') "
            f"ELSE concat_ws(' ', {toks}) END AS text",
        )
        .repartition(32, "doc_id")
        .localCheckpoint(eager=True)
    )
    win = (
        docs.select("doc_id", F.split(F.lower(F.trim("text")), " ").alias("ts"))
        .filter(F.size("ts") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ts") - (k - 1))).alias("pos"),
            F.xxhash64(F.array_join(F.slice("ts", F.col("pos"), k), " ")).alias("wh"),
        )
        .localCheckpoint(eager=True)  # both shapes read the same input
    )

    def shape_agg():
        dup_first = (
            win.groupBy("wh")
            .agg(F.min(F.struct("doc_id", "pos")).alias("first"),
                 F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .select("wh", "first")
        )
        return (
            win.join(dup_first.hint("merge"), "wh")
            .filter(F.struct("doc_id", "pos") != F.col("first"))
            .count()
        )

    def shape_window():
        occ = win.select(
            "doc_id",
            "pos",
            F.count("*").over(Window.partitionBy("wh")).alias("c"),
            F.row_number()
            .over(Window.partitionBy("wh").orderBy("doc_id", "pos"))
            .alias("rk"),
        )
        return occ.filter((F.col("c") > 1) & (F.col("rk") > 1)).count()

    # r11 skew split (measured slower than shape_agg, so the operator
    # no longer carries it): hot window hashes (> cap occurrences,
    # provably <= |win|/cap of them) join via explicit broadcast -- no
    # probe-side sort -- cold keys keep the merge join
    hot_cap = 100_000

    def shape_split():
        df2 = (
            win.groupBy("wh")
            .agg(F.min(F.struct("doc_id", "pos")).alias("first"),
                 F.count("*").alias("c"))
            .filter(F.col("c") > 1)
        )
        cold = df2.filter(F.col("c") <= hot_cap).select("wh", "first")
        hot = df2.filter(F.col("c") > hot_cap).select("wh", "first")
        return (
            win.join(cold.hint("merge"), "wh")
            .unionByName(win.join(F.broadcast(hot), "wh"))
            .filter(F.struct("doc_id", "pos") != F.col("first"))
            .count()
        )

    shapes = {"agg": shape_agg, "window": shape_window, "split": shape_split}
    best: dict[str, float] = {}
    marks: dict[str, int] = {}
    for _ in range(2):  # round-robin, min per shape (the bench.py rule)
        for name, fn in shapes.items():
            t0 = time.time()
            marks[name] = fn()
            best[name] = min(best.get(name, float("inf")), time.time() - t0)
    agg_marks, window_marks, split_marks = (
        marks["agg"], marks["window"], marks["split"],
    )
    t_agg, t_window, t_split = best["agg"], best["window"], best["split"]

    assert agg_marks == window_marks == split_marks, (
        agg_marks, window_marks, split_marks,
    )
    print(
        f"viral @ {n_docs} docs (1 block in 50% = {n_docs // 2} occurrences "
        f"per hot window hash): agg-canonical {t_agg:.1f} s vs rank-window "
        f"{t_window:.1f} s vs broadcast-skew-split {t_split:.1f} s, "
        f"identical {agg_marks} marks"
    )
