"""Round-4 scale probes: the dedup chain and a curation pass pushed to
100×-CLASS volume — the step past round 2/3's 10×-salted evidence.

Corpus generation mirrors scripts/make_scaled_testdata.py's documents
salting (per-rep vowel rotation + rep token, so replicas are a
genuinely bigger corpus, not pathological near-dups of each other) but
builds ONLY documents, at reps ∈ {10, 100, 1000} over sf0.1's 5k docs:
50k / 500k / 5M documents. 5M docs × ~60 shingles/doc ≈ 300M exploded
shingle rows through the minhash aggregate — the ≥100M-row regime the
round-3 verdict asked for.

Each stage of the chain (minhash signatures → LSH banding + candidate
join → exact-Jaccard verify → cluster collapse) is timed SEPARATELY:
stage inputs are eagerly localCheckpointed first, so a stage's clock
covers its own work, not its upstream's recompute. The verdict's
watch-item is a superlinear step between scale tiers — rows/s should
hold roughly flat per stage as the corpus grows 10× per tier.

The curation pass (eval-set decontamination, the registry
`curation_decontaminate` shape on hashed grams) runs at the same three
tiers; its corpus side never shuffles, so rows/s should be flat.

Usage: python scripts/bench_r4_scale.py [--tiers 10,100,1000]
       [--workdir /tmp/r4scale] [--keep]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_bigdata_pipeline_spark.operators import curation, dedup
from nyc_taxi_bigdata_pipeline_spark.session import get_spark
from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

SRC = "/root/testdata/sf0.1"
VOWELS = "aeiou"


ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def gen_docs(spark, reps: int, out: str) -> None:
    """documents × reps with FK-salted ids; each rep applies its OWN
    seeded full-alphabet permutation (a tiny broadcast mapping table +
    ``translate(text, from, to)`` with column args — all codegen), so
    cross-rep shingle overlap collapses to ~zero: candidates/doc stays
    at the corpus's intrinsic density (~5/doc) at EVERY tier instead of
    growing with reps (cyclic-rotation schemes left cross-rep Jaccard
    ~0.3, which LSH banding sampled into 3× the candidates at 10× and
    quadratically worse above). Planted near-dup pairs share a rep's
    mapping, so true-dup density per doc stays flat."""
    import random

    rng = random.Random(42)
    rows = []
    for r in range(reps):
        perm = list(ALPHABET)
        rng.shuffle(perm)
        rows.append((r, ALPHABET, "".join(perm)))
    mapping = spark.createDataFrame(rows, "__rep long, __from string, __to string")
    d = load_table(spark, SRC, "documents").crossJoin(
        spark.range(reps).withColumnRenamed("id", "__rep")
    ).join(F.broadcast(mapping), "__rep")
    d.select(
        (F.col("doc_id") * reps + F.col("__rep")).alias("doc_id"),
        F.concat(
            F.expr("translate(text, __from, __to)"),
            F.lit(" srep"), F.col("__rep"),
        ).alias("text"),
        "lang", "source",
    ).write.mode("overwrite").parquet(out)


def timed(label: str, fn):
    t0 = time.monotonic()
    out = fn()
    dt = time.monotonic() - t0
    return dt, out


def probe_tier(spark, docs_path: str, reps: int) -> None:
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    # small-file scans can arrive as few splits; spread the map stages
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    docs = docs.localCheckpoint(eager=True)
    n_docs = docs.count()

    dt, sigs = timed("minhash", lambda: dedup.add_minhash(docs).localCheckpoint(eager=True))
    print(f"reps={reps} docs={n_docs} minhash: {dt:.1f} s  {n_docs/dt:,.0f} docs/s")

    dt, pairs = timed(
        "lsh", lambda: dedup.lsh_candidate_pairs(sigs).localCheckpoint(eager=True)
    )
    n_pairs = pairs.count()
    print(f"reps={reps} lsh_candidates: {dt:.1f} s  {n_docs/dt:,.0f} docs/s  ({n_pairs} pairs)")

    dt, kept_pairs = timed(
        "estimate",
        lambda: dedup.minhash_estimate_filter(pairs, sigs).localCheckpoint(eager=True),
    )
    n_kept = kept_pairs.count()
    print(f"reps={reps} estimate_filter: {dt:.1f} s  {max(n_pairs,1)/dt:,.0f} pairs/s  "
          f"({n_kept} survive, {100.0*n_kept/max(n_pairs,1):.2f}%)")

    dt, verified = timed(
        "verify",
        lambda: dedup.verify_sets(kept_pairs, docs, "jaccard").localCheckpoint(
            eager=True
        ),
    )
    n_ver = verified.count()
    print(f"reps={reps} verify_sets: {dt:.1f} s  {max(n_kept,1)/dt:,.0f} pairs/s  ({n_ver} near-dups)")

    dt, clusters = timed("clusters", lambda: dedup.dedup_clusters(verified))
    n_cl = clusters.select("cluster").distinct().count()
    print(f"reps={reps} cluster_collapse: {dt:.1f} s  ({n_cl} clusters)")

    # curation pass: hashed-gram decontamination, benchmark = doc_id%50.
    # Two passes, both reported: the first carries a measured up-to-13×
    # C2-compile/GC penalty (186 s vs 14 s steady at 500k docs) — the
    # documented container swing class, not a plan property
    def decon():
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        corpus = docs.filter(F.col("doc_id") % 50 != 0)
        return curation.decontaminate(corpus, bench).count()

    dt_cold, kept = timed("decontaminate-cold", decon)
    dt, kept = timed("decontaminate", decon)
    print(f"reps={reps} decontaminate: {dt:.1f} s  {n_docs/dt:,.0f} docs/s  "
          f"({kept} kept; cold pass {dt_cold:.1f} s)")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="10,100,1000")
    ap.add_argument("--workdir", default="/tmp/r4scale")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    spark = get_spark("bench-r4-scale")
    for reps in [int(t) for t in args.tiers.split(",")]:
        out = f"{args.workdir}/docs_x{reps}.parquet"
        t0 = time.monotonic()
        gen_docs(spark, reps, out)
        print(f"reps={reps} generated in {time.monotonic() - t0:.1f} s")
        probe_tier(spark, out, reps)
        if not args.keep:
            shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
