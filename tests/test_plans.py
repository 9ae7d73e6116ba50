"""Physical-plan regression tests — the 100-TB discipline pinned in CI:
pushdown, pruning, broadcast joins, no Python UDFs in JVM-path queries,
whole-stage codegen presence (SURVEY §4)."""

from __future__ import annotations

import pytest

from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY
from nyc_taxi_bigdata_pipeline_spark.plans import (
    assert_broadcast_join,
    assert_no_python_udf,
    assert_pushed_filters,
    assert_read_schema_pruned,
    physical_plan,
)


def test_pricing_summary_scan_shape(spark, sf_dir):
    df = REGISTRY["pricing_summary"].spark_fn(spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate")
    # 7 of 11 lineitem columns read — projection reaches the scan
    assert_read_schema_pruned(df, "l_quantity", 7)
    assert_no_python_udf(df)
    # (WholeStageCodegen spans only materialize in the AQE final plan
    # post-execution, so codegen presence isn't assertable here)


def test_region_revenue_broadcasts_dims(spark, sf_dir):
    df = REGISTRY["region_revenue"].spark_fn(spark, sf_dir)
    assert_broadcast_join(df, at_least=2)  # nation + region at minimum
    assert_no_python_udf(df)
    # fact scan reads only join key + measure columns
    assert_read_schema_pruned(df, "l_orderkey", 3)


def test_between_in_pushdown(spark, sf_dir):
    df = REGISTRY["between_in_filter"].spark_fn(spark, sf_dir)
    # the IN-list predicate must reach the orders scan
    assert_pushed_filters(df, "o_orderpriority")


def test_analytics_filters_prune_silver_partitions(spark, tmp_path):
    """Month filters on the partitioned silver table must prune at plan
    time (PartitionFilters), not post-scan."""
    from nyc_taxi_bigdata_pipeline_spark import ingest
    from .taxi_fixtures import make_trips_month

    silver = str(tmp_path / "silver")
    for m in (1, 2):
        ingest.ingest_month(
            spark, make_trips_month(spark, 2023, m, n=300), silver, 2023, m
        )
    pruned = ingest.read_silver(spark, silver, [(2023, 2)])
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan
    line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "month" in line  # the filter landed in partition pruning
    assert pruned.rdd.getNumPartitions() <= 4


def test_topk_plans_take_ordered(spark, sf_dir):
    df = REGISTRY["topk_nation_segment"].spark_fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """One formatted physical plan per registry query, built ONCE and
    shared by the three registry-wide sweeps below. Each sweep used to
    re-plan all 201 queries itself (~95 s apiece, the suite's three
    slowest tests — r13 suite-wall-clock fix); the assertions are over
    the plan STRING, so one build serves all three unchanged."""
    plans: dict[str, str] = {}
    for name, q in REGISTRY.items():
        plans[name] = physical_plan(q.spark_fn(spark, sf_dir))
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
    return plans


def test_no_python_udf_across_jvm_registry(registry_plans):
    """Every registry query except the numpy similarity paths must stay
    JVM-side (§2.11: zero Python UDFs in the reference hot path too)."""
    for name, plan in registry_plans.items():
        for bad in ("BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, (
                f"{name}: Python UDF in hot path ({bad})"
            )


def _plan_nodes(plan: str) -> list[str]:
    """Operator names from a formatted plan's tree section, one per node
    (substring counting would double-count the per-node detail section)."""
    import re

    return [
        m.group(1)
        for line in plan.splitlines()
        if (m := re.search(r"\(\d+\)\s+([A-Za-z]+)", line))
    ]


def test_funnel_single_shuffle(spark, sf_dir):
    """Ordered funnel must be one conditional-MIN aggregation pass: a
    single Exchange (on user_id), no joins at all."""
    plan = physical_plan(REGISTRY["funnel_conversion"].spark_fn(spark, sf_dir))
    assert "Join" not in plan
    nodes = _plan_nodes(plan)
    # partial agg → one shuffle → final agg (+ the single-row final fold)
    assert nodes.count("Exchange") <= 2, nodes


def test_interval_join_is_equi_join(spark, sf_dir):
    """The 30-min band must ride an equi-join on user_id as a residual
    predicate — never a nested-loop/cartesian theta join."""
    plan = physical_plan(REGISTRY["interval_join_views"].spark_fn(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_unpivot_plans_single_expand(spark, sf_dir):
    """Native unpivot = ONE Expand over the wide row (not N self-unions)."""
    plan = physical_plan(REGISTRY["unpivot_nation_metrics"].spark_fn(spark, sf_dir))
    assert _plan_nodes(plan).count("Expand") == 1
    assert "Union" not in plan


def test_set_ops_no_cartesian(spark, sf_dir):
    plan = physical_plan(REGISTRY["set_ops_customer_years"].spark_fn(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_fuzzy_join_no_theta_nested_loop(spark, sf_dir):
    """The ed≤1 join must run as variant-string equi-joins with a
    post-filter — a levenshtein theta join would plan as BNLJ/cartesian."""
    plan = physical_plan(REGISTRY["fuzzy_join_names"].spark_fn(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


@pytest.mark.parametrize("metric", ["jaccard", "containment"])
def test_ssjoin_corpus_joins_never_broadcast(spark, sf_dir, monkeypatch, metric):
    """prefix_join_sets' freq/sizes/candidate joins must plan
    SortMergeJoin, never broadcast: every one of those frames scales
    with the corpus, and Spark's static estimator under-reads
    aggregates downstream of checkpointed sources — it statically
    planned broadcasts that OOM'd the driver at a 500k-doc probe
    corpus (bench_r6_assoc_ssjoin: script deleted; numbers stand,
    RESULTS.md Round 6; AQE can't re-plan a static
    broadcast). The merge hints pin the honest large-large strategy."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.operators import dedup
    from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # the checkpointed-source shape that mis-estimates: same as the
    # probe corpora and any iterative pipeline handing over a frame.
    # A zero broadcast cap pins verify_sets' JOIN shape (the over-cap
    # corpus path whose joins this test exists to guard); the under-cap
    # broadcast-dictionary path has no corpus-scale join to mis-broadcast
    # (arrays collected once, kernel reads pair ids).
    docs = spark.createDataFrame(docs.limit(50).collect(), docs.schema)
    monkeypatch.setattr(dedup, "BROADCAST_ARRAYS_MAX_BYTES", 0)
    plan = physical_plan(dedup.prefix_join_sets(docs, metric, threshold=0.8))
    assert plan.count("SortMergeJoin") >= 3, plan[:2000]


# queries that legitimately plan a BroadcastNestedLoopJoin: a 1-row
# scalar-aggregate anchor folded into every row, or a bounded-by-design
# tiny side. (BNLJ-vs-BHJ choice is stats/SF-dependent — this is the
# union over sf0.001 and sf0.01 sweeps.) Adding a name here needs the
# same 1-row/bounded justification AND an honest max-rows bound for the
# broadcast side — test_bnlj_build_sides_stay_bounded EXECUTES each
# whitelisted query and asserts every BNLJ build side against it (r6
# verdict finding 3: name membership alone could hide a regression).
_SCALAR_ANCHOR_OK = {
    "user_decayed_engagement": 1,     # 1-row MAX(day) anchor
    "text_rarity_score": 1,           # 1-row (total_tokens, vocab_size)
    "text_unigram_logprob": 1,        # 1-row fixed-point LM denominator
    "weighted_sample_summary": 1,     # 1-row (Σw, n) totals
    "percentiles": 64,                # ≤64-bin offsets / ≤10 target ranks /
                                      # 1-row (mn, mx, n) anchor
    "grouped_percentiles": 64,        # per-group rank anchors (≤ groups×ps)
    "p95_exceedances": 64,            # grouped two-pass selection: 1-row
                                      # percentile grid × per-group side
                                      # frames (groups×bins broadcast)
    "robust_zscore_mad": 64,          # same operator, twice (median + MAD)
    "curation_domain_mixture": 20,    # 20-row domain table × 1-row total
    "curation_pipeline_full": 20,     # ≤20-row mixture fractions + 1-row
                                      # corpus-count/source-count anchors
    "dedup_cluster_canonical": 1,     # 1-row corpus-count anchor
    "graph_triangle_count": 1,        # 1-row edges × 1-row triangles cross
                                      # (lazified builder, r4 ADVICE)
    "similarity_knn_bruteforce": 5,   # bounded 5-row query side × corpus BY
                                      # DESIGN (exact baseline; ANN variants
                                      # are the scale path)
    "similarity_norm_buckets": 1,     # 1-row label-cardinality anchor
    "sales_opportunity": 1,           # 1-row avg-balance anchor (inequality
                                      # gate can't hash-join a scalar)
    "brand_revenue_share": 1,         # 1-row grand-total anchor
    "hdr_quantile_sketch": 600,       # 1-row total + 3-probe walk over ≤600
                                      # aggregated bins — both sides tiny
    "skew_key_profile": 10,           # 1-row (n_keys, total, max) anchor ×
                                      # top-10 frame (TakeOrderedAndProject)
    "text_lm_perplexity": 1,          # 1-row vocab-size anchor (CROSS JOIN
                                      # vocab in the shared LM SQL)
    "dataset_split_leakage": 1,       # 1-row cluster report × 1-row
                                      # docs_to_move count
    "hll_segment_overlap": 1,         # 4-way cross of 1-row estimate /
                                      # exact-overlap anchors
    "mg_heavy_hitters_tokens": 1,     # 1-row total-count anchor folded into
                                      # the exact recount's threshold filter
    "text_bpe_encode_stats": 1,       # 1-row corpus-totals × 1-row
                                      # distinct-subword anchors
    "approx_aggregates": 1,           # 1-row sketch frame × 1-row exact
                                      # countDistinct (split defeats the
                                      # distinct-EXPAND rewrite, r11)
    "mg_heavy_hitters_weighted": 1,   # 1-row total-mass anchor (same shape
                                      # as the unweighted MG recount)
    "text_bm25_topk": 1,              # 1-row (N_docs, total_tokens) corpus
                                      # anchor folded into every posting
    "text_bigram_logprob": 1,         # 1-row vocabulary-size anchor (same
                                      # shape as text_unigram_logprob)
    "cms_selfjoin_size": 1,           # 1-row exact × 1-row estimate cross
                                      # (same shape as hll_segment_overlap)
    "graph_clustering_coefficient": 1,  # 1-row triangles × 1-row wedges
                                        # cross (same as graph_triangle_count)
    "text_kl_divergence": 1,          # 1-row corpus-total-tokens anchor
                                      # folded into every (source, token)
                                      # term (same shape as text_rarity)
    "chi_square_independence": 1,     # 1-row grand-total anchor over the
                                      # ≤(langs×sources) contingency cells
    "dataset_mixture_resample": 1,    # 1-row MIN(source-count) target
                                      # anchor folded into the acceptance
                                      # predicate and the report rows
    "dataset_negative_sample": 1,     # 1-row corpus-count anchor folded
                                      # into the hash-ring modulus
    "text_tfidf_cosine": 1,           # 1-row doc-count anchor inside the
                                      # idf term (same shape as BM25's)
    "text_langid_score": 5,           # candidate-language table: every
                                      # eval doc scores against ALL langs
                                      # (bounded by language cardinality,
                                      # 5 in testdata — never the corpus)
    "dataset_temperature_mixture": 1,  # 1-row (total, Σsqrt-micro)
                                       # anchor folded into the per-lang
                                       # thresholds (mixture class)
    "drift_psi_value": 10,             # 1-row global-range anchor +
                                       # the fixed 10-bin grid crossed
                                       # with per-group arm totals
    "search_hybrid_rrf": 3,            # bounded 3-probe side × corpus
                                       # (semantic arm, knn shape) +
                                       # 1-row doc-count idf anchor
    "search_eval_ndcg": 10,            # same RRF chain (3-probe semantic
                                       # arm + 1-row idf anchor) + the
                                       # fixed 10-row DCG discount table
                                       # crossed with ≤|probes| relcnt
    "curation_dsir_select": 1,         # 1-row (traw, ttgt) totals anchor
                                       # folded into the bucket ratios
    "similarity_triplet_mining": 10,   # bounded 10-anchor side × corpus
                                       # (knn shape)
    "text_vocab_coverage": 3,          # 3-row truncation-grid arms ×
                                       # 1-row vocab totals anchor
    "corpus_datacard": 1,              # cross of three 1-row stat
                                       # aggregates (corpus/dup/raw),
                                       # unpivoted to the tall frame
}


def test_no_cartesian_products_across_registry(registry_plans):
    """Engine-wide guardrail: NO query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is tolerated only for whitelisted scalar-
    anchor shapes (a 1-row aggregate folded into every row) — a BNLJ
    against anything larger is the O(n*m) cliff the explode+equi-join
    rewrites exist to avoid."""
    for name, plan in registry_plans.items():
        assert "CartesianProduct" not in plan, name
        if name not in _SCALAR_ANCHOR_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def _walk_executed(node, depth=0):
    """DFS over an EXECUTED physical plan, descending through AQE query
    stages (their subtree hides behind .plan()) and the final adaptive
    plan (.executedPlan())."""
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_executed(ch.apply(i), depth + 1)
    nn = node.nodeName()
    if "QueryStage" in nn:
        try:
            yield from _walk_executed(node.plan(), depth + 1)
        except Exception:
            pass
    if nn == "AdaptiveSparkPlan":
        try:
            yield from _walk_executed(node.executedPlan(), depth + 1)
        except Exception:
            pass


def _metric(node, key):
    try:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == key:
                return kv._2().value()
    except Exception:
        return None
    return None


def _unwrap_codegen(node):
    """Strip InputAdapter / WholeStageCodegen wrappers to the operator."""
    while node.nodeName().startswith(("InputAdapter", "WholeStageCodegen")):
        node = node.children().apply(0)
    return node


def _bnlj_build_rows(df) -> list[int]:
    """Execute ``df`` and return numOutputRows of every
    BroadcastExchange feeding a BroadcastNestedLoopJoin as its BUILD
    side. The build child is the one that unwraps to a broadcast
    stage/exchange — a streamed side that merely STARTS with another
    broadcast join (e.g. a BroadcastHashJoin) must not be confused for
    it (that was a false positive on sales_opportunity's anti join)."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _walk_executed(root):
        if "BroadcastNestedLoopJoin" not in node.nodeName():
            continue
        ch = node.children()
        for i in range(ch.size()):
            side = _unwrap_codegen(ch.apply(i))
            if not side.nodeName().startswith(
                ("BroadcastQueryStage", "BroadcastExchange", "ReusedExchange")
            ):
                continue
            rows = None
            for sub in _walk_executed(side):
                if "BroadcastExchange" in sub.nodeName():
                    rows = _metric(sub, "numOutputRows")
                    if rows is not None:
                        break
            # a reused exchange reports no metric of its own; its
            # original is measured where it first executes
            if rows is not None:
                out.append(int(rows))
    return out


@pytest.mark.parametrize("name", sorted(_SCALAR_ANCHOR_OK))
def test_bnlj_build_sides_stay_bounded(spark, sf_dir, name):
    """The size teeth behind the BNLJ whitelist: EXECUTE each whitelisted
    query and assert every nested-loop build side actually holds its
    documented row bound — a corpus-scaled frame silently drifting into a
    whitelisted name's BNLJ now fails here instead of hiding."""
    rows = _bnlj_build_rows(REGISTRY[name].spark_fn(spark, sf_dir))
    bound = _SCALAR_ANCHOR_OK[name]
    for r in rows:
        assert r <= bound, (
            f"{name}: BNLJ build side has {r} rows > documented bound {bound}"
        )


def _parquet_scan_count(plan: str) -> int:
    import re

    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"\(\d+\)\s+Scan parquet", line)
    )


@pytest.mark.parametrize(
    "name,max_scans",
    [
        # sketch family: the one-shot WITH text would rescan the base
        # table once per downstream CTE reference (Spark INLINES
        # non-recursive CTEs — the hdr regression planned 8 FileScans);
        # the localCheckpoint-materialized sketch relation caps it
        ("hll_distinct_by_type", 1),
        ("cms_heavy_hitters", 1),
        ("hdr_quantile_sketch", 1),
        # bloom: orders build scan + customer probe/accounting scans —
        # the designed shape; inlining regression would double these
        ("bloom_membership", 4),
        ("recursive_hierarchy_depth", 1),
        ("lateral_top_orders", 2),
        ("dataset_global_shuffle", 1),
    ],
)
def test_plan_risk_queries_scan_counts(spark, sf_dir, name, max_scans):
    """CTE-inlining rescan regression gate: the plan-risk queries must
    not re-read their parquet inputs more than the designed number of
    times (counts measured at the fixed plans; any increase means an
    inlined relation fanned out into repeated FileScans)."""
    plan = physical_plan(REGISTRY[name].spark_fn(spark, sf_dir))
    assert _parquet_scan_count(plan) <= max_scans, plan


def test_grouped_topk_plans_window_group_limit(spark):
    """Per-key top-k must plan Spark 4's WindowGroupLimit (partial rank-k
    cut below the exchange) — what keeps a zipfian hot key from sorting
    all its rows in one task (scripts/bench_r4_skew.py: 1.8 s at 15M
    rows with a 12.9% hot key; script deleted; numbers stand,
    RESULTS.md Round 4)."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.operators.topk import grouped_topk

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    plan = physical_plan(grouped_topk(df, ["k"], [F.col("v").desc()], 5))
    assert "WindowGroupLimit" in plan, plan


# queries whose plans carry an UNPARTITIONED window (Exchange
# SinglePartition → Sort → Window): tolerated only over bounded
# aggregated frames or documented oracle-inspectable miniatures — an
# unpartitioned window over raw rows is a single-task sort at any scale
# (r6 verdict finding 2). name → (max count, max rows through the
# SinglePartition exchange, why it's bounded). The row bound has
# MEASURED teeth (r7 verdict finding 2): test_global_window_inputs_
# stay_bounded EXECUTES each query and asserts shuffleRecordsWritten of
# every exchange feeding an unpartitioned window. max_rows=None marks
# the one checkpoint-hidden case (the window materializes inside a lazy
# localCheckpoint's own job, invisible from the final executed plan) —
# there the bound is LITERAL-constrained instead: percentiles' offsets
# window rides groupBy(width_bucket(..., 64)) ≤ 64 rows by construction.
# Row bounds hold at BOTH sf0.01 (test SF, measured r8) and sf0.1.
_GLOBAL_WINDOW_OK = {
    "percentiles": (1, None, "cumulative offsets over ≤64 aggregated "
                             "bins (width_bucket literal)"),
    "hdr_quantile_sketch": (2, 600, "probe walk over ≤600 aggregated "
                                    "bins (measured 144 at sf0.1)"),
    "skew_key_profile": (1, 16, "rank over the top-10 frame (plan "
                                "boundary in key_skew_profile keeps "
                                "TakeOrdered below the window)"),
    "moving_average_daily": (1, 3000, "7-day MA over the daily aggregate "
                                      "— bounded by distinct calendar "
                                      "days of the synthetic era "
                                      "(measured 2,405 at sf0.1)"),
    "ntile_equidepth": (1, 200_000, "documented surface pin (sql_surface"
                                    ".py NOTE): full orders through the "
                                    "NTILE sort — 15k at sf0.01, 150k at "
                                    "sf0.1; scale path = percentile-"
                                    "boundary binning"),
    "dataset_interleave_sources": (1, 6000, "documented miniature "
                                            "(dataset_ops.py NOTE): the "
                                            "≤5k-doc documents table "
                                            "through the virtual-time "
                                            "merge audit"),
}


def _unpartitioned_windows(plan: str) -> int:
    """Window nodes whose spec has no partition columns. In the formatted
    detail a partitioned Window shows three bracket groups
    ([exprs], [part cols], [order]); an unpartitioned one shows two with
    ASC/DESC in the second. WindowGroupLimit is skipped — an
    unpartitioned one always accompanies an unpartitioned Window node."""
    import re

    hits = 0
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if not re.match(r"\(\d+\) Window\s*$", ln.strip()):
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            if lines[j].startswith("Arguments:"):
                groups = re.split(r"\],\s*\[", lines[j])
                if len(groups) == 2 and re.search(r"(ASC|DESC)", groups[1]):
                    hits += 1
                break
    return hits


def test_no_unpartitioned_windows_over_raw_rows(registry_plans):
    """Engine-wide guardrail (mirrors the BNLJ gate): a Window without a
    partition spec forces Exchange SinglePartition + a one-task sort of
    its whole input — tolerated only where the input is a bounded
    aggregate or a documented miniature."""
    for name, plan in registry_plans.items():
        n = _unpartitioned_windows(plan)
        if name in _GLOBAL_WINDOW_OK:
            assert n <= _GLOBAL_WINDOW_OK[name][0], (
                f"{name}: {n} unpartitioned windows > whitelisted "
                f"{_GLOBAL_WINDOW_OK[name][0]}"
            )
        else:
            assert n == 0, (
                f"{name}: plans {n} unpartitioned window(s) — justify and "
                "whitelist in _GLOBAL_WINDOW_OK or repartition the window"
            )


def _unpartitioned_window_input_rows(df) -> list[int]:
    """Execute ``df`` and return shuffleRecordsWritten of every exchange
    feeding an unpartitioned Window — the size of the one-task sort the
    whitelist tolerates. Mirrors _bnlj_build_rows."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _walk_executed(root):
        if not node.nodeName().startswith("Window"):
            continue
        try:
            if node.partitionSpec().size() != 0:
                continue
        except Exception:
            continue
        for sub in _walk_executed(node):
            nn = sub.nodeName()
            if "Exchange" in nn and "Broadcast" not in nn:
                rows = _metric(sub, "shuffleRecordsWritten")
                if rows is not None:
                    out.append(int(rows))
                break
    return out


@pytest.mark.parametrize("name", sorted(_GLOBAL_WINDOW_OK))
def test_global_window_inputs_stay_bounded(spark, sf_dir, name):
    """The size teeth behind the global-window whitelist (r7 verdict
    finding 2, mirroring test_bnlj_build_sides_stay_bounded): EXECUTE
    each whitelisted query and assert the rows moved into every
    unpartitioned window's SinglePartition exchange hold the documented
    bound — a bounded window's input silently growing now fails here
    instead of hiding behind name membership."""
    max_count, max_rows, why = _GLOBAL_WINDOW_OK[name]
    rows = _unpartitioned_window_input_rows(
        REGISTRY[name].spark_fn(spark, sf_dir)
    )
    if max_rows is None:
        # checkpoint-hidden window: bounded by a literal in the plan
        # (see the whitelist comment); nothing measurable from the final
        # executed plan, and that must stay true — a visible
        # unpartitioned exchange appearing here means the structure
        # changed and the entry needs a measured bound again
        assert rows == [], f"{name}: expected checkpoint-hidden window, saw {rows}"
        return
    assert rows, (
        f"{name}: no unpartitioned-window exchange measured — structure "
        "changed; update _GLOBAL_WINDOW_OK (drop the entry or mark it "
        "checkpoint-hidden)"
    )
    for r in rows:
        assert r <= max_rows, (
            f"{name}: {r} rows through an unpartitioned window's exchange "
            f"> documented bound {max_rows} ({why})"
        )


# The r7-verdict scale-hole class: grouped quantiles over a FIXED-
# cardinality key (event_type, ~5 values at every SF) must never rank a
# whole group in one task. These queries ride operators/quantiles.
# grouped_quantile_select — every Window in their plans must either
# partition by ≥2 columns ((group, bucket) cells, ~n_g/64 rows each) or
# ride an aggregated frame (the groups×64 offset window).
_GROUPED_QUANTILE_QUERIES = [
    "grouped_percentiles",
    "p95_exceedances",
    "robust_zscore_mad",
]


def _skip_to_meaningful_input(node):
    """Descend through Sort/Exchange/codegen/AQE wrappers to the node
    that actually produces a Window's input rows. Wrapper names match
    EXACTLY (except the numbered WholeStageCodegen/ShuffleQueryStage
    forms) — prefix matching would skip past SortAggregate/
    SortMergeJoin and falsely assert on their children (r8 advice)."""
    exact_wrappers = (
        "InputAdapter", "Sort", "Exchange", "AQEShuffleRead",
        "CollectMetrics",
    )
    while True:
        nn = node.nodeName()
        if nn.startswith("ShuffleQueryStage"):
            node = node.plan()
            continue
        if nn == "AdaptiveSparkPlan":
            node = node.executedPlan()
            continue
        if nn in exact_wrappers or nn.startswith("WholeStageCodegen"):
            node = node.children().apply(0)
            continue
        return node


@pytest.mark.parametrize("name", _GROUPED_QUANTILE_QUERIES)
def test_grouped_quantile_windows_never_rank_whole_groups(spark, sf_dir, name):
    """No Window partitioned ONLY by the fixed-cardinality group key may
    consume raw-scale rows: partition spec ≥2 columns (per-(group,
    bucket) cells) or an aggregate input (the bin-count frame).

    May pass vacuously: the operator hides its rank and offset windows
    inside eager jobs, so the FINAL executed plan can show zero Window
    nodes — that absence is itself the desired shape (no whole-group
    window survives to the visible plan). The hole that left (r9 verdict
    item 6) is closed by test_grouped_quantile_operator_window_specs_
    observed below, which spies on the operator's actual Window
    construction and fails if no >= 2-column partitioned window runs."""
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    for node in _walk_executed(root):
        if not node.nodeName().startswith("Window"):
            continue
        try:
            psize = node.partitionSpec().size()
        except Exception:
            continue
        if psize >= 2:
            continue
        src = _skip_to_meaningful_input(node.children().apply(0))
        assert "Aggregate" in src.nodeName(), (
            f"{name}: Window partitioned by {psize} column(s) rides "
            f"{src.nodeName()} — a whole-group rank over raw rows"
        )


def test_grouped_quantile_operator_window_specs_observed(spark, monkeypatch):
    """Closes the vacuous-pass hole in the plan test above (r9 verdict
    item 6): the operator hides its rank window inside eager jobs, so
    the registry query's FINAL plan can legitimately show zero Window
    nodes and the plan walk asserts nothing. This test observes the
    operator's window construction DIRECTLY — a spy on the module's
    Window binding records every partitionBy spec while an input sized
    to force the leaf rank pass runs — and asserts at least one window
    executed, every one partitioned by >= 2 columns (group + cell id:
    never a whole fixed-cardinality group in one task)."""
    import nyc_taxi_bigdata_pipeline_spark.operators.quantiles as Q
    from pyspark.sql import Window as RealWindow

    specs = []

    class SpyWindow:
        @staticmethod
        def partitionBy(*cols):
            specs.append(cols)
            return RealWindow.partitionBy(*cols)

    monkeypatch.setattr(Q, "Window", SpyWindow)
    # 2 groups x 50k distinct values: more values per group than the
    # adaptive bin count (8192 at 2 cells), so rank-holding buckets hold
    # several DISTINCT values (no all-ties short-circuit) and must
    # descend to leaf cells -> the bounded rank window runs
    df = spark.range(100_000).selectExpr(
        "CAST(id % 2 AS STRING) AS g", "CAST(id AS DOUBLE) AS v"
    )
    out = Q.grouped_quantile_select(
        df, ["g"], "v", [0.5, 0.9], n_bins=4, leaf_rows=50
    )
    assert out.count() == 4
    assert specs, "leaf rank pass never ran — fixture no longer forces it"
    for cols in specs:
        assert len(cols) >= 2, f"window partitioned by {cols}"


# ------------------------------------------------------------- dashboard


@pytest.fixture(scope="module")
def dashboard_gold(spark, tmp_path_factory):
    """One month's star schema in run_month's layout."""
    from nyc_taxi_bigdata_pipeline_spark import pipeline

    from .taxi_fixtures import make_trips_month, make_zone_lookup

    d = tmp_path_factory.mktemp("dashboard")
    gold = str(d / "gold")
    pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=800), make_zone_lookup(spark),
        str(d / "silver"), gold, 2023, 1, min_rows=100,
    )
    return gold


def _series_reference(fact, shape: str):
    """The series shape as the reference writes it: a global orderBy."""
    import pyspark.sql.functions as F

    if shape == "daily_trips":
        return fact.groupBy("pickup_date").agg(
            F.count("*").alias("trips"), F.sum("total_amount").alias("revenue")
        ).orderBy("pickup_date")
    hr = F.substring("pickup_time", 1, 2).cast("int").alias("hour")
    return fact.groupBy(hr).agg(F.count("*").alias("trips")).orderBy("hour")


def _series_rows(rows) -> list[tuple]:
    # a double sum's last bits follow the order partial sums merge in
    return [tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows]


@pytest.mark.parametrize("path", ["analytics", "sql"])
@pytest.mark.parametrize("shape", ["daily_trips", "hourly_trips"])
def test_dashboard_series_sort_in_one_partition(spark, dashboard_gold, path, shape):
    """daily_trips and hourly_trips return one row per day or hour, so
    they sort inside one partition: the executed plan holds no
    range-partitioning exchange (a global sort's sampling job and sort
    shuffle), and SQL hourly_trips reads no dim_time. Over a fact spread
    across 4 partitions the rows and their order equal a global
    orderBy's."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark import analytics, sql_interface

    sql_interface.register_star(spark, dashboard_gold)
    fact = spark.read.parquet(f"{dashboard_gold}/fact_trip").repartition(4)
    if path == "analytics":
        dims = {d: spark.read.parquet(f"{dashboard_gold}/{d}")
                for d in ("dim_location", "dim_payment_type")}
        df = getattr(analytics, shape)(fact, dims)
        ref = _series_reference(fact, shape)
    else:
        fact.createOrReplaceTempView("fact_trip")
        df = sql_interface.dashboard_query(spark, shape, "2023-01-05", "2023-01-25")
        ref = _series_reference(
            fact.filter(F.col("pickup_date").between("2023-01-05", "2023-01-25")), shape
        )
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert "dim_time" not in plan, plan
    assert _series_rows(rows) == _series_rows(ref.collect())
