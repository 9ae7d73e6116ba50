"""Scale-path curation operator tests: decontamination, repetition
filtering, PII scrubbing, domain-mixture sampling
(operators/curation.py; oracle-checked twins in
benchqueries/curation_ops.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark.operators import curation
from nyc_taxi_bigdata_pipeline_spark.plans.explain import assert_no_python_udf


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_decontaminate_removes_leaked_docs(spark, docs):
    # benchmark = 3 corpus docs verbatim → they (at least) must go
    bench = docs.limit(3).select("doc_id", "text")
    clean = curation.decontaminate(docs, bench, n=3)
    n_before, n_after = docs.count(), clean.count()
    assert n_after <= n_before - 3
    # docs sharing no 3-gram with the benchmark survive
    novel = spark.createDataFrame(
        [(999999, "qq ww ee rr tt yy uu ii oo pp")], ["doc_id", "text"]
    )
    assert curation.decontaminate(novel, bench, n=3).count() == 1


def test_decontaminate_broadcasts_benchmark(docs):
    bench = docs.limit(3).select("doc_id", "text")
    bad = curation.contaminated_ids(
        docs, curation.benchmark_ngrams(bench, n=3), n=3
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert_no_python_udf(bad)


def test_repetition_stats_flags_planted_doc(spark, docs):
    planted = spark.createDataFrame(
        [
            (900001, ("spam ham " * 40).strip()),   # dup_frac ≈ 0.975
            (900002, " ".join(f"w{i}" for i in range(80))),  # all distinct
        ],
        ["doc_id", "text"],
    )
    prof = {r["doc_id"]: r for r in curation.repetition_stats(planted).collect()}
    rep, uniq = prof[900001], prof[900002]
    assert rep["repetitive"] and rep["dup_word_frac"] > 0.9
    assert rep["top_bigram_n"] == 40  # "spam ham" ×40
    assert not uniq["repetitive"] and uniq["dup_word_frac"] == 0.0
    kept = curation.drop_repetitive(planted)
    assert [r["doc_id"] for r in kept.collect()] == [900002]


def test_scrub_pii_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith@example.com or 555-123-4567 ok"),
            (2, "server at 10.0.0.1 replied"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in curation.scrub_pii(df).collect()}
    assert out[1]["email_redacted"] == 1 and out[1]["phone_redacted"] == 1
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "bob.smith" not in out[1]["text"]
    assert out[2]["ipv4_redacted"] == 1 and "<IP>" in out[2]["text"]
    assert out[3]["text"] == "nothing sensitive here"
    assert_no_python_udf(curation.scrub_pii(df))


def test_domain_mixture_sample_hits_targets(docs):
    # skew the 20 uniform sources toward src0/src1; heavier domains keep
    # more rows, fraction is capped at available
    weights = {f"src{i}": (0.3 if i < 2 else 0.4 / 18) for i in range(20)}
    total = docs.count()
    sampled = curation.domain_mixture_sample(docs, weights, target_total=total // 2)
    by_src = {
        r["source"]: r["n"]
        for r in sampled.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_src_avail = total // 20
    # capped domains keep everything available
    assert by_src["src0"] == per_src_avail and by_src["src1"] == per_src_avail
    light = [by_src.get(f"src{i}", 0) for i in range(2, 20)]
    # light domains are downsampled well below the heavy ones
    assert max(light) < per_src_avail / 2
    # deterministic: same inputs → same rows
    again = curation.domain_mixture_sample(docs, weights, target_total=total // 2)
    assert sorted(r["doc_id"] for r in sampled.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_domain_mixture_never_upsamples(docs):
    sampled = curation.domain_mixture_sample(docs, {"src0": 5.0})
    assert sampled.count() == docs.filter(F.col("source") == "src0").count()


def test_span_dedup_remove_first_occurrence_survives(spark):
    """Lee-et-al ExactSubstr removal semantics on a constructed corpus:
    the corpus-wide FIRST occurrence of each duplicated k-token window
    is canonical and survives; later occurrences are removed; overlap
    runs merge into one span; unique docs are untouched."""
    rows = [
        (1, "a b c d e f g h i j unique1 unique2"),
        (2, "x1 x2 a b c d e f g h i j y1 y2"),
        (3, "completely different tokens here only once now ok fine yes"),
        (4, "a b c d e f g h onlyeight"),
        (5, None),  # NULL text: dropped by the operator's contract
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curation.span_dedup_remove(df, k=8).collect()}
    assert len(out) == 4 and 5 not in out
    # doc 1 holds the first occurrences -> untouched
    assert out[1].tokens_removed == 0
    assert out[1].clean_text == rows[0][1]
    # doc 2: the shared 10-token run goes (3 overlapping windows, 1 span)
    assert (out[2].dup_spans, out[2].tokens_removed) == (1, 10)
    assert out[2].clean_text == "x1 x2 y1 y2"
    # doc 3 unique; doc 4 loses the repeated 8-token window only
    assert out[3].tokens_removed == 0
    assert (out[4].dup_spans, out[4].tokens_removed) == (1, 8)
    assert out[4].clean_text == "onlyeight"
    # removal never touches the canonical copy: re-running on the
    # CLEANED corpus is a fixpoint (no duplicated windows remain)
    cleaned = spark.createDataFrame(
        [(d, r.clean_text) for d, r in out.items()], "doc_id long, text string"
    )
    again = curation.span_dedup_remove(cleaned, k=8).collect()
    assert all(r.tokens_removed == 0 for r in again)
    assert_no_python_udf(curation.span_dedup_remove(df, k=8))
    # one hot window: 40 docs share the same 8-token window; doc 0's
    # copy is canonical, every other doc loses exactly that window
    hot = spark.createDataFrame(
        [(i, "h1 h2 h3 h4 h5 h6 h7 h8 u%d" % i) for i in range(40)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.tokens_removed, r.clean_text)
        for r in curation.span_dedup_remove(hot, k=8).collect()
    }
    assert got == {
        0: (0, "h1 h2 h3 h4 h5 h6 h7 h8 u0"),
        **{i: (8, f"u{i}") for i in range(1, 40)},
    }


def test_span_dedup_join_back_plan_shapes(spark):
    """The join-back is ONE merge-hinted join: dup_first scales with the
    corpus, so it must not broadcast, and it may never degrade to
    BNLJ/cartesian."""
    from nyc_taxi_bigdata_pipeline_spark.plans.explain import physical_plan

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j k")],
        "doc_id long, text string",
    )
    plan = physical_plan(curation.span_dedup_remove(df, k=8))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_operator_matches_sql_twin(spark, sf_dir, docs):
    """The xxhash64 scale path must reproduce the oracle-backed SQL
    twin's per-source accounting exactly (same windows, same canonical
    choice, same island merge) on the real fixture."""
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY

    want = {
        r.source: (r.docs_total, r.docs_affected, r.tokens_total,
                   r.tokens_removed, r.spans_removed)
        for r in REGISTRY["curation_span_dedup"].spark_fn(spark, sf_dir).collect()
    }
    # no caller pre-filter: the operator drops NULL-text rows itself
    # (r10 ADVICE 3 — same contract as the SQL twin's WHERE text IS NOT NULL)
    per_doc = curation.span_dedup_remove(docs, k=8)
    got = {
        r.source: (r.docs_total, r.docs_affected, r.tokens_total,
                   r.tokens_removed, r.spans_removed)
        for r in per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs_total"),
            F.sum((F.col("tokens_removed") > 0).cast("bigint")).alias("docs_affected"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum("tokens_removed").alias("tokens_removed"),
            F.sum("dup_spans").alias("spans_removed"),
        )
        .collect()
    }
    assert got == want
