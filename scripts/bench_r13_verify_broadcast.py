"""Stage probe: the containment VERIFY stage (``dedup.verify_sets``),
broadcast-dictionary vs join-shape Arrow transfer.

Isolates the verify: candidates + the shared shingle frame are built and
EAGERLY checkpointed outside timing, then each arm times
``verify_sets(...).write.format("noop")`` best-of-N ROUND-ROBIN (the
first arm to run pays codegen compilation):

- arm A (join):      ``dedup.BROADCAST_ARRAYS_MAX_BYTES = 0`` → the shape
                     that physically duplicates each doc's sorted hash
                     array once per pair through the pair join AND the
                     Arrow boundary (~2.3 GB at sf0.1 containment)
- arm B (broadcast): default cap → arrays collected once (~80 MB),
                     kernel reads pair ids only

Usage: python scripts/bench_r13_verify_broadcast.py [--sf-dir DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from nyc_taxi_bigdata_pipeline_spark.operators import dedup  # noqa: E402
from nyc_taxi_bigdata_pipeline_spark.session import get_spark  # noqa: E402
from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table  # noqa: E402


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("r13-verify-broadcast-probe")
    sc = spark.sparkContext

    docs = load_table(spark, args.sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    docs = docs.repartition(sc.defaultParallelism, "doc_id")

    # ---- containment: candidates exactly as containment_join_prefix builds
    # them (n=14), shingles shared — both eagerly materialized out of band
    sh14 = dedup.hashed_shingles(docs, n=14).localCheckpoint(eager=True)
    from pyspark.sql import Window

    sizes = sh14.groupBy("doc_id").agg(F.count("*").alias("__sz"))
    freq = sh14.groupBy("__h").agg(F.count("*").alias("__f"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("__f"), F.asc("__h"))
    ranked = (
        sh14.join(freq.hint("merge"), "__h")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes.hint("merge"), "doc_id")
    ).localCheckpoint(eager=True)
    thr = 0.8
    src = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(thr) * F.col("__sz")) + 1
    ).select(
        F.col("doc_id").alias("src_id"), "__h",
        F.col("__sz").alias("__sz_s"), F.col("__rn").alias("__p_s"),
    )
    dst = ranked.select(
        F.col("doc_id").alias("dst_id"), "__h",
        F.col("__sz").alias("__sz_d"), F.col("__rn").alias("__p_d"),
    )
    alpha = F.ceil(F.lit(thr) * F.col("__sz_s").cast("double"))
    cand = (
        src.join(dst.hint("merge"), "__h")
        .filter(
            (F.col("src_id") != F.col("dst_id"))
            & (F.col("__sz_d") >= alpha)
            & (1 + F.least(F.col("__sz_s") - F.col("__p_s"),
                           F.col("__sz_d") - F.col("__p_d")) >= alpha)
        )
        .select("src_id", "dst_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cand = cand.count()
    n_docs = docs.count()
    print(f"containment: {n_docs} docs, {n_cand} candidate pairs")

    arms = {"join": 0, "bcast": dedup.BROADCAST_ARRAYS_MAX_BYTES}
    best: dict[str, float] = {}
    for p in range(args.passes):
        for arm, cap in arms.items():
            sc.setJobDescription(f"verify:{arm} pass{p}")
            dedup.BROADCAST_ARRAYS_MAX_BYTES = cap
            dt = _noop(
                dedup.verify_sets(
                    cand, docs, "containment", threshold=thr, shingle_n=14,
                    shingles=sh14,
                )
            )
            best[arm] = min(best.get(arm, float("inf")), dt)
            print(f"  pass{p} containment verify[{arm}] {dt:.2f}s")
    print({f"containment_verify_{k}": round(v, 3) for k, v in best.items()})
    sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
