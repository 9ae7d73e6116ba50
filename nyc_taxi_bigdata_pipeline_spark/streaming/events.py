"""Structured Streaming over the events table (SURVEY §2.9 extension).

The reference is monthly batch; its late-data policy is the strict
month-window filter. This module exceeds that with real event-time
streaming semantics on the same data model:

- tumbling / sliding window aggregations with watermarked late-data
  handling (``withWatermark`` + ``window``),
- a stateful sessionization operator via ``applyInPandasWithState``
  (the Spark-native custom-stateful-operator escape hatch; its 4.x
  successor ``transformWithStateInPandas`` was probed and its Python
  driver worker crashes in this container even on a minimal processor —
  "TransformWithStateInPySpark driver worker exited unexpectedly".
  Re-probed 2026-08-16 (r10): still crashes, and the root cause is now
  known — the streaming runner init dies on ``ImportError: cannot
  import name 'descriptor' from 'google.protobuf'``; the new API's
  state server speaks protobuf and this container has no working
  protobuf package (no pip allowed). Environmental, not a Spark bug;
  tests/test_streaming.py carries a sentinel that flags the pin stale
  the moment protobuf becomes importable),
- file/memory sinks for tests; the transformations are sink-agnostic.

Batch/stream unification: ``windowed_counts`` accepts either a static
or a streaming DataFrame — the benchquery ``tumbling_hourly`` is its
batch twin, which is how correctness is oracle-checked.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def windowed_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation with a
    watermark bounding state for late data. Works on both static and
    streaming frames."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    win = F.window("ts", window_duration, slide) if slide else F.window("ts", window_duration)
    return (
        df.groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` holds each key only until the
    event-time watermark passes it, so state size tracks the watermark
    horizon instead of growing with the whole stream — the property that
    makes at-least-once ingestion dedup viable on an unbounded feed
    (plain ``dropDuplicates`` on a stream accumulates state forever).

    Batch/stream unification: on a static frame this is exactly
    ``dropDuplicates(key_cols)``, which is the oracle-checkable twin
    (same shape as operators/dedup.exact_dedup)."""
    cols = list(key_cols)
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(cols)
    return events.dropDuplicates(cols)


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _from_us(us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(us / 1_000_000, dt.timezone.utc).replace(tzinfo=None)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: per-user session windows with an
    inactivity gap, via ``applyInPandasWithState``. Emits a session when
    the event-time timeout (gap past the watermark) fires."""
    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    def _emit(user_id, sessions):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [_from_us(s[0]) for s in sessions],
                "session_end": [_from_us(s[1]) for s in sessions],
                "n_events": [s[2] for s in sessions],
                "total_value": [s[3] for s in sessions],
            }
        )

    def fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            sess = tuple(state.get)
            state.remove()
            yield _emit(user_id, [sess])
            return
        # gather this batch's events (plus the open session from state)
        parts = []
        for pdf in pdf_iter:
            ts_us = pdf["ts"].astype("int64") // 1000  # ns → µs
            parts.append(
                pd.DataFrame({"ts": ts_us, "v": pdf["value"].fillna(0.0).astype(float)})
            )
        ev = pd.concat(parts).sort_values("ts") if parts else pd.DataFrame(columns=["ts", "v"])
        open_sess = tuple(state.get) if state.exists else None
        # walk in time order, splitting on inactivity gaps — a batch can
        # close many sessions; only the trailing one stays in state
        sessions: list[tuple[int, int, int, float]] = []
        cur = open_sess
        for ts, v in zip(ev["ts"].astype(int), ev["v"].astype(float)):
            if cur is None:
                cur = (ts, ts, 1, v)
            elif ts - cur[1] <= gap_us:
                cur = (cur[0], max(cur[1], ts), cur[2] + 1, cur[3] + v)
            else:
                sessions.append(cur)
                cur = (ts, ts, 1, v)
        if cur is None:
            return
        state.update(cur)
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        if sessions:
            yield _emit(user_id, sessions)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Batch twin of :func:`sessionize` (lag + cumulative session ids) —
    the correctness oracle for the stateful streaming operator."""
    from pyspark.sql import Window

    gap_s = int(pd.Timedelta(gap).total_seconds())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > gap_s)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
    ).drop("session_id")


def purchase_view_join(
    events: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views within the preceding ``lookback`` window.

    On streaming input both sides get event-time watermarks and the join
    condition carries the time band, so Spark can bound join state to
    the watermark + lookback horizon (an unbanded stream-stream join
    would buffer both streams forever). On static input the same plan is
    a shuffle equi-join on user_id with the band as a residual
    predicate — the oracle-checked batch twin is the benchquery
    ``interval_join_views`` (benchqueries/behavior.py).
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    )
    if events.isStreaming:
        purchases = purchases.withWatermark("p_ts", watermark)
        views = views.withWatermark("v_ts", watermark)
    cond = (
        (purchases.user_id == views.v_user_id)
        & (views.v_ts >= purchases.p_ts - F.expr(f"INTERVAL {lookback}"))
        & (views.v_ts <= purchases.p_ts)
    )
    return purchases.join(views, cond, "inner").select(
        "user_id", "purchase_id", "p_ts", "v_ts", "purchase_value"
    )


def sessionize_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization via the BUILT-IN ``session_window``
    aggregation — the Spark-first counterpart of :func:`sessionize`:
    one groupBy, fully JVM-side, works unchanged on batch and streaming
    input (streaming needs a watermark upstream; the window closes gap
    past the watermark, same trigger as the custom operator's timeout).

    Semantics note pinned by ``test_sessionize_native_matches_sql_twin``:
    ``session_window.end`` is last-event-time + gap (the close horizon),
    where :func:`sessionize`/the SQL twin report the last event time —
    identical sessions, end shifted by exactly ``gap``.

    Prefer this path; ``applyInPandasWithState`` (:func:`sessionize`)
    remains as the template for session logic the built-in can't
    express (e.g. value-dependent dynamic gaps, mid-session emission).
    """
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
            "total_value",
        )
    )


def purchase_view_join_outer(
    events: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "left_outer",
) -> DataFrame:
    """OUTER flavors of :func:`purchase_view_join` — ``how`` is
    ``left_outer`` (every purchase, NULL view columns when none preceded
    it within ``lookback`` — "which purchases came cold?"),
    ``right_outer`` (every view, NULL purchase columns when it converted
    nothing — "which views never converted?"), or ``full_outer`` (both).

    Outer stream-stream joins are the semantically tricky family: a
    NULL-padded row can only be emitted once the watermark proves no
    matching row can still arrive, so results trail the inner join's by
    up to the watermark delay (and the join REQUIRES both watermarks +
    the time band — Spark rejects an unbounded outer stream-stream join
    outright). State stays bounded by the same watermark + lookback
    horizon; matched rows are identical to the inner join's, pinned by
    the batch-equivalence tests (one per outer mode).

    ``user_id`` is coalesced across sides so view-only rows keep their
    user; ``v_user_id`` would otherwise be lost on the right/full paths.
    """
    if how not in ("left_outer", "right_outer", "full_outer"):
        raise ValueError(f"how must be an outer mode, got {how!r}")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    )
    if events.isStreaming:
        purchases = purchases.withWatermark("p_ts", watermark)
        views = views.withWatermark("v_ts", watermark)
    cond = (
        (purchases.user_id == views.v_user_id)
        & (views.v_ts >= purchases.p_ts - F.expr(f"INTERVAL {lookback}"))
        & (views.v_ts <= purchases.p_ts)
    )
    return purchases.join(views, cond, how).select(
        F.coalesce(purchases.user_id, views.v_user_id).alias("user_id"),
        "purchase_id", "p_ts", "v_ts", "purchase_value",
    )
