"""Streaming sinks and enrichment (extension over SURVEY §2.9).

- stream-static enrichment: a streaming fact joined to broadcast-sized
  static dims — the streaming twin of the analytics layer's star joins.
- ``dedup_within_watermark``: drop duplicate event_ids arriving within
  the watermark horizon (bounded state), the streaming analogue of the
  warehouse's anti-dup insert.
- ``foreach_batch_upsert``: idempotent micro-batch append into a
  parquet gold table through the batch warehouse's own sink
  (``operators/upsert.insert_if_absent``) — exactly-once-per-key
  semantics on top of at-least-once delivery.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import insert_if_absent


def enrich_stream(events: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Stream-static join: each micro-batch joins against the (small)
    static dims; Spark re-plans the broadcast per batch, so dim updates
    between batches are picked up automatically."""
    out = events
    for _, dim in dims.items():
        key = dim.columns[0]
        out = out.join(broadcast(dim), key, "left")
    return out


def dedup_within_watermark(events: DataFrame, key: str = "event_id",
                           watermark: str = "1 hour") -> DataFrame:
    """At-least-once → effectively-once on ``key`` within the watermark
    horizon; state for keys older than the watermark is dropped, so
    memory is bounded by arrival rate × horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


def foreach_batch_upsert(
    stream: DataFrame,
    gold_path: str,
    natural_key: Sequence[str],
    checkpoint: str,
) -> StreamingQuery:
    """Write a stream into a parquet gold table idempotently: every
    micro-batch goes through ``insert_if_absent`` on the natural key, so
    re-delivered batches (failure/retry) insert nothing the second time
    and a read error on an existing table fails the batch."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch, _: insert_if_absent(batch, gold_path, natural_key)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_agg_maintain(
    stream: DataFrame,
    view_path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    checkpoint: str,
    count_col: str = "cnt",
) -> StreamingQuery:
    """Maintain a materialized SUM/COUNT aggregate view from a stream:
    each micro-batch is aggregated alone and key-merged into the stored
    view via the ΔV algebra (operators/ivm.agg_view_merge) — per-batch
    cost O(|batch| + |view|), the streaming face of incremental view
    maintenance, vs Structured Streaming's own stateful aggregation
    which would pin the whole group state in the state store. Use this
    when the view must live as a queryable TABLE between runs and group
    cardinality outgrows state-store comfort.

    Atomic per batch: merge to a temp dir, then swap — a crash
    mid-write leaves the previous view intact. Replay-safe too: the
    last applied batch_id is stored INSIDE the view directory (a
    ``_last_batch_id`` marker, invisible to parquet readers) so it
    swaps atomically with the data — when a crash lands after the swap
    but before the streaming checkpoint commits, the re-delivered
    batch is recognized and skipped instead of double-SUMmed.
    Crash recovery: the swap is two renames (view→__prev, tmp→view);
    a crash between them leaves the old view parked at __prev, so every
    batch first restores __prev→view before reading — the prior
    aggregates are never silently discarded.
    """
    from ..operators.ivm import agg_view_merge

    def merge(batch: DataFrame, batch_id: int) -> None:
        def build(view: DataFrame | None) -> DataFrame:
            if view is None:
                aggs = [F.sum(c).alias(c) for c in sum_cols]
                aggs.append(F.count("*").cast("bigint").alias(count_col))
                return batch.groupBy(*keys).agg(*aggs)
            return agg_view_merge(
                view, batch, keys, sum_cols=sum_cols, count_col=count_col
            )

        _merge_view_crash_safe(batch.sparkSession, view_path, build,
                               batch_id=batch_id,
                               run_id=_checkpoint_query_id(checkpoint))

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _checkpoint_query_id(checkpoint: str) -> str | None:
    """The streaming query id recorded in ``{checkpoint}/metadata``.

    Batch ids are only monotonic WITHIN one checkpoint's lifetime: a
    wiped/reset checkpoint restarts at batch 0, so a bare ``id <=
    marker`` replay guard against a RETAINED view would silently swallow
    all the genuinely new batches of the fresh run. Binding the marker
    to the query id (which a fresh checkpoint regenerates) lets the sink
    tell replay (same id, smaller batch) from a new run (different id).
    """
    import json
    from pathlib import Path

    meta = Path(checkpoint) / "metadata"
    try:
        return json.loads(meta.read_text())["id"]
    except (OSError, ValueError, KeyError):
        return None


def _merge_view_crash_safe(spark, view_path: str, build,
                           batch_id: int | None = None,
                           run_id: str | None = None) -> None:
    """Read-merge-swap for materialized views: recover a half-finished
    swap, read the current view (None on first batch), write
    ``build(view)`` to a temp dir, then swap via two renames. A crash
    between the renames parks the old view at ``__prev`` and the next
    call restores it, so prior state is never silently discarded.

    When ``batch_id`` is given, it is persisted as a ``_last_batch_id``
    marker file inside the view directory (underscore-prefixed files
    are invisible to parquet scans, same convention as ``_SUCCESS``),
    so the id travels atomically with the swapped data; a replayed
    batch with id ≤ the marker is a no-op. ``run_id`` (the streaming
    query id from the checkpoint metadata) is stored alongside: batch
    ids restart at 0 when a checkpoint is wiped, so the skip only
    applies when the marker's run id matches — a NEW run against a
    retained view merges normally instead of being swallowed as
    replay. This makes non-idempotent merges (SUM/COUNT views)
    exactly-once under the foreachBatch at-least-once contract."""
    import shutil
    from pathlib import Path

    vp = Path(view_path)
    prev = Path(view_path.rstrip("/") + "__prev")
    if prev.exists():
        if vp.exists():
            # crashed after tmp→view but before cleanup: prev is stale
            shutil.rmtree(prev, ignore_errors=True)
        else:
            # crashed between view→prev and tmp→view: restore the view
            prev.rename(vp)
    marker = vp / "_last_batch_id"
    if batch_id is not None and marker.exists():
        try:
            lines = marker.read_text().splitlines()
            marker_batch = int(lines[0].strip())
            marker_run = lines[1].strip() if len(lines) > 1 else None
            same_run = run_id is None or marker_run is None or run_id == marker_run
            if same_run and batch_id <= marker_batch:
                return  # replayed batch: already merged into the view
        except (ValueError, IndexError):
            pass  # unreadable marker: fall through and re-merge
    view = spark.read.parquet(view_path) if vp.exists() else None
    new_view = build(view)
    tmp = view_path.rstrip("/") + "__merging"
    new_view.write.mode("overwrite").parquet(tmp)
    if batch_id is not None:
        text = str(batch_id) if run_id is None else f"{batch_id}\n{run_id}"
        (Path(tmp) / "_last_batch_id").write_text(text)
    if vp.exists():
        vp.rename(prev)
    Path(tmp).rename(vp)
    shutil.rmtree(prev, ignore_errors=True)


def foreach_batch_sketch_maintain(
    stream: DataFrame,
    view_path: str,
    keys: Sequence[str],
    id_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain a mergeable HyperLogLog register view from a stream:
    each micro-batch is sketched alone (``functions/sketch.
    hll_registers`` — ≤ m rows per key group regardless of batch size)
    and MAX-merged into the stored registers, the ``max_cols`` case of
    the ΔV algebra. Unlike a COUNT(DISTINCT) view, per-batch cost and
    view size are BOUNDED (m registers per group), and re-delivered
    EVENTS are absorbed for free — MAX is idempotent per value, so this
    sink tolerates at-least-once delivery with no upstream dedup.

    Query the estimate any time with ``functions/sketch.hll_estimate``
    over the stored view. Crash-safe swap identical to
    :func:`foreach_batch_agg_maintain`.
    """
    from ..functions.sketch import hll_registers
    from ..operators.ivm import agg_view_merge

    keys = list(keys)

    def merge(batch: DataFrame, batch_id: int) -> None:
        def build(view: DataFrame | None) -> DataFrame:
            regs = hll_registers(batch, keys, id_col)
            if view is None:
                return regs
            return agg_view_merge(
                view, regs, [*keys, "bucket"],
                count_col=None, max_cols=["rho"],
            )

        # MAX-merge is idempotent so replay is CORRECT either way; the
        # batch_id marker just skips the wasted re-merge job
        _merge_view_crash_safe(batch.sparkSession, view_path, build,
                               batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_dedup_maintain(
    stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
) -> StreamingQuery:
    """STREAMING incremental near-dup dedup — the ingest-time flavor of
    ``operators/dedup.dedup_incremental``: each micro-batch drops docs
    that near-duplicate the accumulated corpus (touched only through
    the persisted LSH band index at ``index_path`` plus candidate-only
    text reads from ``corpus_path``), collapses within-batch clusters
    to canonicals, then appends the survivors to the corpus view AND
    their band rows to the index view.

    Both views update through ``_merge_view_crash_safe`` with the
    batch-id/run-id marker, so a re-delivered batch is a no-op on each
    view independently (exactly-once per view on top of foreachBatch's
    at-least-once contract). The CORPUS merges FIRST: a crash between
    the two merges leaves docs that exist in the corpus but not yet in
    the index — they are simply not dedup candidates until the replay
    completes the index merge (safe; the reverse order could propose a
    candidate whose text is unreadable and silently skip a
    contamination). Replay recomputation is deterministic: a survivor
    already merged into the corpus collides only with itself, and the
    ``id_a != id_b`` backstop in ``dedup_incremental`` drops self-pairs,
    so a replayed batch re-derives the same survivor set.

    At scale each batch costs: one signature pass over the BATCH, a
    banded join against the index (never the corpus text), candidate-
    only verification, and two bounded view merges — corpus text is
    re-read only for colliding candidates, the whole point of
    persisting the band index (reference contract documented on
    ``dedup_incremental``).
    """
    from ..operators.dedup import (
        add_minhash,
        band_rows,
        dedup_incremental,
        keep_canonical,
        minhash_dedup,
    )

    def merge(batch: DataFrame, batch_id: int) -> None:
        from pathlib import Path

        spark = batch.sparkSession
        batch = batch.select(id_col, text_col).filter(
            F.col(text_col).isNotNull()
        )
        have_state = Path(corpus_path).exists() and Path(index_path).exists()
        if have_state:
            corpus = spark.read.parquet(corpus_path)
            index = spark.read.parquet(index_path)
            survivors = dedup_incremental(
                batch, corpus, index, id_col, text_col,
                threshold, num_hashes, bands,
            )
        else:  # first batch: within-batch dedup only
            pairs = minhash_dedup(
                batch, id_col, text_col, num_hashes, bands, threshold
            )
            survivors = keep_canonical(batch, pairs, id_col)
        # both view builds read the survivors — materialize the dedup
        # chain once (honest inside a sink: the work is per-batch)
        survivors = survivors.localCheckpoint(eager=True)
        new_bands = band_rows(
            add_minhash(survivors, text_col, num_hashes, id_col),
            id_col, num_hashes, bands,
        )
        run_id = _checkpoint_query_id(checkpoint)
        _merge_view_crash_safe(
            spark, corpus_path,
            lambda view: survivors if view is None
            else view.unionByName(survivors),
            batch_id=batch_id, run_id=run_id,
        )
        _merge_view_crash_safe(
            spark, index_path,
            lambda view: new_bands if view is None
            else view.unionByName(new_bands),
            batch_id=batch_id, run_id=run_id,
        )
        # no unpersist: localCheckpoint blocks aren't persist()-cached,
        # so unpersist() would be a no-op; the RDD blocks release when
        # the frame is GC'd at the end of this batch closure.

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
