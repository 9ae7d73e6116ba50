"""Synthesize an N×-salted copy of the sf0.1 testdata for scale probes.

The driver's testdata tops out at sf0.1; the 100-TB question is whether
per-query cost stays ~linear past it. This script replicates every fact
table REPS× with FK-consistent key salting (key' = key·REPS + rep, so
orders rep r still joins customer rep r and lineitem rep r joins both),
leaving the genuinely dimensional tables (region, nation) alone.

Content columns are perturbed so replicas don't become pathological
near-duplicates of each other (which would measure the dup-blowup
guards, not scale):
- documents.text: per-rep vowel rotation via translate() — changes most
  shingles, so MinHash/SimHash see a genuinely bigger corpus — plus a
  rep salt token.
- embeddings.embedding: rotate the array by ``rep`` positions — norm
  preserved, direction changed, so ANN/near-dup candidate counts stay
  linear instead of exploding 45× on identical copies.

Timestamps, amounts, and categorical columns are kept verbatim: group
cardinalities on derived keys (day, hour, segment) stay constant while
group SIZES grow REPS× — the shape a bigger month actually has.

Known gap: the support-cut text queries (``text_cooccurrence_pairs``,
``text_association_rules``, ``text_tfidf_cosine``) return 0 rows on
every salted tier, so their receipts are taken at sf0.1. The vowel
rotation has period 5, so reps r and r+5 share a spelling and each
vowel-bearing token appears in only REPS/5 of the REPS replicas of a
document: its document frequency falls to at most 1/5 of its sf0.1
value. The ``COUNT(*) * 2 >= nd`` support cut (text_ops.py) then
passes nothing. Checked with DuckDB over the same token incidence:
sf0.1 has 30 tokens at ≥ 50 % support (the most frequent in 78.46 % of
5,000 documents, and every one of them has a vowel); the 10× tier has
none (the most frequent in 15.69 % of 50,000).

Usage: python scripts/make_scaled_testdata.py [--reps 10] [--out /tmp/sf1x10]
"""

from __future__ import annotations

import argparse
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_bigdata_pipeline_spark.session import get_spark
from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

SRC = "/root/testdata/sf0.1"
VOWELS = "aeiou"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sf1x10")
    args = ap.parse_args()
    reps, out = args.reps, args.out

    spark = get_spark("make-scaled-testdata")
    rep = spark.range(reps).withColumnRenamed("id", "__rep")

    def salt(col: str) -> F.Column:
        return (F.col(col) * reps + F.col("__rep")).alias(col)

    def write(name: str, df) -> None:
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(f"{name}: {spark.read.parquet(f'{out}/{name}.parquet').count()} rows")

    for dim in ("region", "nation"):
        write(dim, load_table(spark, SRC, dim))

    c = load_table(spark, SRC, "customer").crossJoin(rep)
    write(
        "customer",
        c.select(salt("c_custkey"), "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    )

    s = load_table(spark, SRC, "supplier").crossJoin(rep)
    write("supplier", s.select(salt("s_suppkey"), "s_name", "s_nationkey", "s_acctbal"))

    p = load_table(spark, SRC, "part").crossJoin(rep)
    write(
        "part",
        p.select(salt("p_partkey"), "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    )

    o = load_table(spark, SRC, "orders").crossJoin(rep)
    write(
        "orders",
        o.select(
            salt("o_orderkey"), salt("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
    )

    li = load_table(spark, SRC, "lineitem").crossJoin(rep)
    write(
        "lineitem",
        li.select(
            salt("l_orderkey"), salt("l_partkey"), salt("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
    )

    ev = load_table(spark, SRC, "events").crossJoin(rep)
    write(
        "events",
        ev.select(salt("event_id"), "ts", salt("user_id"), "event_type", "value", "props"),
    )

    # per-rep vowel rotation: rep r maps vowel i -> vowel (i+r) % 5 —
    # most char shingles change, so replicas aren't near-dups
    d = load_table(spark, SRC, "documents").crossJoin(rep)
    rot = F.lit(None)
    for r in range(reps):
        mapped = VOWELS[r % 5 :] + VOWELS[: r % 5]
        rot = F.when(F.col("__rep") == r, F.translate("text", VOWELS, mapped)).otherwise(rot) \
            if r else F.translate("text", VOWELS, mapped)
    write(
        "documents",
        d.select(
            salt("doc_id"),
            F.concat(rot, F.lit(" srep"), F.col("__rep")).alias("text"),
            "lang", "source", "n_chars",
        ),
    )

    # rotate the embedding by rep positions: norm preserved, direction
    # changed -> near-dup/ANN candidate volume grows linearly, not 45×
    e = load_table(spark, SRC, "embeddings").crossJoin(rep)
    dim = len(e.select("embedding").first()[0])
    rotated = F.expr(
        f"concat(slice(embedding, (CAST(__rep AS INT) % {dim}) + 1,"
        f" {dim} - (CAST(__rep AS INT) % {dim})),"
        f" slice(embedding, 1, CAST(__rep AS INT) % {dim}))"
    ).alias("embedding")
    write("embeddings", e.select(salt("vec_id"), rotated, "label"))


if __name__ == "__main__":
    main()
