"""Stream-static joins, watermark dedup, and the idempotent foreachBatch
gold upsert (exactly-once-per-key on top of at-least-once delivery)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table
from nyc_taxi_bigdata_pipeline_spark.streaming import events as ev
from nyc_taxi_bigdata_pipeline_spark.streaming import sinks


@pytest.fixture(scope="module")
def events_df(spark):
    return load_table(spark, "/root/testdata/sf0.001", "events").cache()


def test_enrich_stream_static_join(spark, events_df, tmp_path):
    src = str(tmp_path / "src")
    events_df.write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
    q = (
        sinks.enrich_stream(stream, {"event_type": dim})
        .writeStream.format("memory").queryName("enriched")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120); q.stop()
    out = spark.sql("SELECT count(*) n, count(weight) w FROM enriched").first()
    assert out["n"] == events_df.count()
    assert out["w"] == out["n"]  # every type matched the dim


def test_dedup_within_watermark(spark, events_df, tmp_path):
    # duplicate the whole feed (at-least-once delivery simulation)
    src = str(tmp_path / "dup_src")
    events_df.unionByName(events_df).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
    q = (
        sinks.dedup_within_watermark(stream, "event_id", watermark="10 minutes")
        .writeStream.format("memory").queryName("deduped")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120); q.stop()
    n = spark.sql("SELECT count(DISTINCT event_id) d, count(*) n FROM deduped").first()
    assert n["d"] == events_df.count()
    assert n["n"] == n["d"]  # duplicates dropped


def test_foreach_batch_upsert_idempotent(spark, events_df, tmp_path):
    gold = str(tmp_path / "gold_events")
    src = str(tmp_path / "up_src")
    events_df.write.mode("overwrite").parquet(src)

    def run(checkpoint: str):
        stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
        q = sinks.foreach_batch_upsert(
            stream, gold, ["event_id"], str(tmp_path / checkpoint)
        )
        q.awaitTermination(180)
        q.stop()

    run("cp1")
    n1 = spark.read.parquet(gold).count()
    assert n1 == events_df.count()
    # redeliver the identical feed with a FRESH checkpoint (worst-case
    # replay): the anti-dup append must insert nothing
    run("cp2")
    n2 = spark.read.parquet(gold).count()
    assert n2 == n1


def test_foreach_batch_upsert_unreadable_table_raises(spark, events_df, tmp_path):
    """An existing gold path that cannot be read as parquet is not a
    first batch: the batch must fail instead of appending with no
    anti-dup join."""
    from pyspark.errors import StreamingQueryException

    gold = tmp_path / "gold_events"
    gold.mkdir()
    (gold / "junk.txt").write_text("not a parquet file")
    src = str(tmp_path / "bad_src")
    events_df.limit(50).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
    q = sinks.foreach_batch_upsert(stream, str(gold), ["event_id"], str(tmp_path / "cp"))
    try:
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(180)
    finally:
        q.stop()
    assert sorted(p.name for p in gold.iterdir()) == ["junk.txt"]


def test_foreach_batch_agg_maintain(spark, tmp_path):
    """Streamed incremental agg view must equal the batch groupBy over
    everything that flowed through, across multiple runs (new files
    between runs -> new micro-batches merged into the stored view)."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.streaming import sinks

    src = tmp_path / "src"
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v bigint"

    def run_batch(rows, part):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(src / part)
        )
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = sinks.foreach_batch_agg_maintain(
            stream, view, ["k"], ["v"], ckpt, count_col="cnt"
        )
        q.awaitTermination(120)

    run_batch([("a", 1), ("a", 2), ("b", 5)], "p1")
    run_batch([("a", 10), ("c", 7)], "p2")

    got = {r["k"]: (r["v"], r["cnt"]) for r in spark.read.parquet(view).collect()}
    assert got == {"a": (13, 3), "b": (5, 1), "c": (7, 1)}


def test_foreach_batch_sketch_maintain(spark, events_df, tmp_path):
    """Streamed HLL register view must equal the batch sketch over
    everything that flowed through — across two runs (new files → new
    micro-batches MAX-merged into the stored registers) — and absorb a
    redelivered feed with no drift (MAX is idempotent)."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.functions import sketch

    view = str(tmp_path / "hll_view")
    src = str(tmp_path / "sk_src")
    half1 = events_df.filter(F.col("event_id") % 2 == 0)
    half2 = events_df.filter(F.col("event_id") % 2 == 1)

    def run(cp: str):
        stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
        q = sinks.foreach_batch_sketch_maintain(
            stream, view, ["event_type"], "event_id", str(tmp_path / cp)
        )
        q.awaitTermination(180)
        q.stop()

    half1.write.mode("overwrite").parquet(src)
    run("skcp")
    half2.write.mode("append").parquet(src)
    run("skcp")  # same checkpoint: only the new files form the batch

    batch_regs = sketch.hll_registers(events_df, ["event_type"], "event_id")
    got = sorted(map(tuple, spark.read.parquet(view).collect()), key=str)
    want = sorted(map(tuple, batch_regs.collect()), key=str)
    assert got == want

    # worst-case redelivery: replay the ENTIRE feed with a fresh
    # checkpoint — registers must not move
    run("skcp2")
    again = sorted(map(tuple, spark.read.parquet(view).collect()), key=str)
    assert again == want

    # and the estimate over the maintained view is the batch estimate
    est = sketch.hll_estimate(spark.read.parquet(view), ["event_type"])
    batch_est = sketch.hll_estimate(batch_regs, ["event_type"])
    assert sorted(map(tuple, est.collect())) == sorted(map(tuple, batch_est.collect()))


def test_cms_counters_via_agg_maintain(spark, events_df, tmp_path):
    """A streaming Count-Min sketch is cms_counter_rows composed with the
    generic agg-maintain sink (counters merge by SUM): the maintained
    counter view must equal the batch counters, and probing it gives
    estimates ≥ true counts (one-sided CMS bound)."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.functions import sketch

    view = str(tmp_path / "cms_view")
    src = str(tmp_path / "cms_src")
    events_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
    q = sinks.foreach_batch_agg_maintain(
        sketch.cms_hash_rows(stream.select("event_type"), "event_type"),
        view, ["seed", "bucket"], ["c"],
        str(tmp_path / "cmscp"), count_col="n",
    )
    q.awaitTermination(180)
    q.stop()

    got = spark.read.parquet(view).select("seed", "bucket", "c")
    want = sketch.cms_counter_rows(events_df.select("event_type"), "event_type")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    truth = {r["event_type"]: r["n"] for r in
             events_df.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    probes = events_df.select("event_type").distinct()
    est = {r["tok"]: r["cms_estimate"] for r in
           sketch.cms_lookup(got, probes, "event_type").collect()}
    for tok, n in truth.items():
        assert est[tok] >= n


def test_hdr_bins_via_agg_maintain(spark, events_df, tmp_path):
    """Streaming quantile sketch: HDR bin rows composed with the generic
    agg-maintain sink must reproduce the batch bin counts exactly."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.functions import sketch

    view = str(tmp_path / "hdr_view")
    src = str(tmp_path / "hdr_src")
    events_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
    q = sinks.foreach_batch_agg_maintain(
        sketch.hdr_bin_rows(stream.select("value"), "value"),
        view, ["bin_id"], ["c"], str(tmp_path / "hdrcp"), count_col="n",
    )
    q.awaitTermination(180)
    q.stop()
    got = sorted(map(tuple, spark.read.parquet(view).select("bin_id", "c").collect()))
    want = sorted(map(tuple, (
        sketch.hdr_bin_rows(events_df, "value")
        .groupBy("bin_id").agg(F.sum("c").cast("bigint").alias("c"))
        .collect()
    )))
    assert got == want and len(got) > 5


def test_merge_view_batch_id_replay_skipped(spark, tmp_path):
    """A replayed batch_id (crash after swap, before checkpoint commit)
    must NOT double-add into a SUM/COUNT view: the _last_batch_id
    marker swaps atomically with the data and gates the merge."""
    import pyspark.sql.functions as F

    from nyc_taxi_bigdata_pipeline_spark.streaming.sinks import (
        _merge_view_crash_safe,
    )

    view = str(tmp_path / "view")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint")

    def build(existing):
        agg = batch.groupBy("k").agg(F.sum("v").alias("v"))
        if existing is None:
            return agg
        return (
            existing.unionByName(agg)
            .groupBy("k").agg(F.sum("v").alias("v"))
        )

    _merge_view_crash_safe(spark, view, build, batch_id=0)
    # replay of batch 0: skipped, view unchanged
    _merge_view_crash_safe(spark, view, build, batch_id=0)
    got = {r["k"]: r["v"] for r in spark.read.parquet(view).collect()}
    assert got == {"a": 1, "b": 2}
    # genuinely new batch merges
    _merge_view_crash_safe(spark, view, build, batch_id=1)
    got = {r["k"]: r["v"] for r in spark.read.parquet(view).collect()}
    assert got == {"a": 2, "b": 4}


def test_agg_maintain_checkpoint_replay_no_double_sum(spark, tmp_path):
    """End-to-end replay semantics of the _last_batch_id marker:

    - same-run crash replay (same query id, batch id ≤ marker) is
      absorbed — covered by test_merge_view_batch_id_replay_skipped and
      the same-run restart below;
    - a WIPED checkpoint is a NEW run (fresh query id): its batches
      restart at 0 and must NOT be swallowed as replay, or genuinely
      new data would silently never merge (r4 ADVICE finding). The
      documented cost: wiping the checkpoint but keeping the view
      re-merges the re-delivered old files — reset both together."""
    import shutil

    from nyc_taxi_bigdata_pipeline_spark.streaming import sinks

    src = tmp_path / "src"
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v bigint"

    def run(rows, part):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(src / part)
        )
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = sinks.foreach_batch_agg_maintain(
            stream, view, ["k"], ["v"], ckpt, count_col="cnt"
        )
        q.awaitTermination(120)
        q.stop()

    run([("a", 1), ("b", 5)], "p1")
    run([("a", 10)], "p2")
    want = {"a": (11, 2), "b": (5, 1)}
    got = {r["k"]: (r["v"], r["cnt"]) for r in spark.read.parquet(view).collect()}
    assert got == want
    # same-run restart with NO new files: availableNow re-lists the same
    # sources; the checkpoint (and, if a post-swap crash re-delivered a
    # batch, the marker) prevents any double-sum
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = sinks.foreach_batch_agg_maintain(
        stream, view, ["k"], ["v"], ckpt, count_col="cnt"
    )
    q.awaitTermination(120)
    q.stop()
    got = {r["k"]: (r["v"], r["cnt"]) for r in spark.read.parquet(view).collect()}
    assert got == want, "same-run replay was double-summed into the view"
    # wiped checkpoint = NEW run (fresh query id), restarting at batch 0:
    # new data must MERGE, not be swallowed by the stale marker
    shutil.rmtree(ckpt)
    run([("c", 7)], "p3")
    got = {r["k"]: (r["v"], r["cnt"]) for r in spark.read.parquet(view).collect()}
    assert got.get("c") == (7, 1), (
        "new run's batches were swallowed as replay by the stale marker"
    )
    # the old files re-delivered by the fresh run re-merge into the
    # retained view — the documented cost of resetting only one of
    # (checkpoint, view)
    assert got["a"] == (22, 4) and got["b"] == (10, 2)


def test_foreach_batch_dedup_maintain(spark, tmp_path):
    """Streaming incremental near-dup dedup: cross-batch contamination
    drops against the persisted band index, within-batch clusters
    collapse to canonicals, survivors + their band rows accumulate
    crash-safely, and a same-run replay changes nothing."""
    from nyc_taxi_bigdata_pipeline_spark.streaming import sinks

    src = tmp_path / "src"
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def doc(seed: str) -> str:
        return " ".join(f"{seed}tok{i:02d}" for i in range(15))

    def run(rows, part):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(src / part)
        )
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = sinks.foreach_batch_dedup_maintain(
            stream, corpus, index, ckpt, threshold=0.8
        )
        q.awaitTermination(180)
        q.stop()

    # batch 1: doc 2 is an exact copy of doc 1 (within-batch dup)
    run([(1, doc("alpha")), (2, doc("alpha")), (3, doc("beta")),
         (4, doc("gamma")), (5, None)], "p1")
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 3, 4}  # canonical min-id kept; NULL text dropped
    # batch 2: 6 replays doc 3 (cross-batch contamination -> dropped
    # via the index, never by re-shingling the corpus); 7 is new; 8
    # duplicates 7 within the batch
    run([(6, doc("beta")), (7, doc("delta")), (8, doc("delta"))], "p2")
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 3, 4, 7}
    idx = spark.read.parquet(index)
    assert idx.select("doc_id").distinct().count() == 4
    assert idx.count() == 4 * 8  # bands per surviving doc
    # same-run restart with no new files: exactly-once per view
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = sinks.foreach_batch_dedup_maintain(
        stream, corpus, index, ckpt, threshold=0.8
    )
    q.awaitTermination(180)
    q.stop()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 3, 4, 7}
    assert spark.read.parquet(index).count() == 4 * 8
