"""Idempotent-append operators — the Spark replacement for Postgres
``ON CONFLICT DO NOTHING`` (J5/J6, ``dw_load_incremental.sql``).

Design (SURVEY §7.3): without a transactional store, idempotency =
(a) dedupe the incoming batch on its natural key, then
(b) left-anti join against the existing table on that key, then
(c) append only the survivors.

``insert_if_absent`` is that sink for a parquet table; the gold zone and
the streaming upsert only ever append through it.

At 100 TB: the anti join shuffles both sides on the key — acceptable for
dim tables (tiny) and for fact loads scoped to one month partition
(the existing side is pruned to the same partition before the join).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..sources.fs import hadoop_path_exists


def dedupe_on_key(df: DataFrame, key: Sequence[str]) -> DataFrame:
    """Batch-internal dedup on the natural key (keeps an arbitrary row
    per key, matching ON CONFLICT's first-writer-wins semantics)."""
    return df.dropDuplicates(list(key))


def anti_dup_append(
    incoming: DataFrame,
    existing: DataFrame | None,
    key: Sequence[str],
) -> DataFrame:
    """Rows of ``incoming`` whose key is absent from ``existing`` —
    the J6 left-anti 'insert-if-absent'. ``existing=None`` → first load.

    NULL-safe key equality (``eqNullSafe``) so NULL key components
    behave like Postgres' composite unique index treats them in the
    reference data (keys are non-null post-cleaning, but be safe).
    """
    batch = dedupe_on_key(incoming, key)
    if existing is None:
        return batch
    cond = None
    for k in key:
        c = batch[k].eqNullSafe(existing[k])
        cond = c if cond is None else (cond & c)
    return batch.join(existing.select(*key), on=cond, how="left_anti")


def insert_if_absent(
    incoming: DataFrame,
    path: str,
    key: Sequence[str],
    prune: Column | None = None,
) -> None:
    """Append to the parquet table at ``path`` the rows of ``incoming``
    whose key it lacks (existing key wins), cast to the table's schema;
    an absent table is written whole. ``prune`` filters the existing
    side and must keep every row an incoming key can match. An existing
    but unreadable table raises rather than taking the absent path."""
    spark = incoming.sparkSession
    if not hadoop_path_exists(spark, path):
        anti_dup_append(incoming, None, key).write.parquet(path)
        return
    existing = spark.read.parquet(path)
    pruned = existing if prune is None else existing.filter(prune)
    fresh = anti_dup_append(incoming, pruned, key)
    fresh.select(
        *[F.col(f.name).cast(f.dataType) for f in existing.schema.fields]
    ).write.mode("append").parquet(path)


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Latest-wins CDC snapshot merge: apply an insert/update/delete
    change feed to a base snapshot (the MERGE-with-deletes counterpart
    of :func:`anti_dup_append`'s insert-only semantics).

    ``changes`` carries (key, seq, op∈{'U','D'}, payload...); for each key
    only the highest-``seq`` change applies ('U' upserts its payload, 'D'
    removes the row; a 'D' on an absent key is a no-op). Payload columns
    must be a subset of ``base``'s columns; non-payload base columns of a
    freshly inserted key come out NULL. Appends ``last_seq`` (0 for
    untouched base rows).

    Scale shape: latest-change extraction is ONE hash aggregate on the
    key via MAX over a (seq, op, payload) struct — no window sort, full
    map-side combine over the feed — then ONE key-equi full-outer join
    against the base (broadcast when the day's feed is small, co-located
    when the base is bucketed by key). No driver state, no collect.
    """
    payload = [c for c in changes.columns if c not in (key, seq_col, op_col)]
    struct_fields = [
        F.col(seq_col).alias("__s"),
        F.col(op_col).alias("__op"),
        *[F.col(c) for c in payload],
    ]
    latest = (
        changes.groupBy(key)
        .agg(F.max(F.struct(*struct_fields)).alias("__m"))
        .select(
            F.col(key),
            F.col("__m.__s").alias("__seq"),
            F.col("__m.__op").alias("__op"),
            *[F.col(f"__m.{c}").alias(f"__chg_{c}") for c in payload],
        )
    )
    merged = base.join(latest, on=key, how="full").filter(
        F.col("__op").isNull() | (F.col("__op") != "D")
    )
    out = [F.col(key)]
    for c in base.columns:
        if c == key:
            continue
        if c in payload:
            out.append(
                F.when(F.col("__op").isNotNull(), F.col(f"__chg_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out.append(F.col(c))
    out.append(F.coalesce(F.col("__seq"), F.lit(0)).cast("bigint").alias("last_seq"))
    return merged.select(*out)


def union_distinct_keys(frames: Sequence[DataFrame], out_col: str) -> DataFrame:
    """J5 dim seeding: distinct union of key columns from multiple
    sources (PU ∪ DO location ids, dw_load_incremental.sql:22-32).
    Each input frame must be a single-column projection."""
    it = iter(frames)
    acc = next(it).toDF(out_col)
    for f in it:
        acc = acc.union(f.toDF(out_col))
    return acc.distinct()


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff between two versions of a keyed table: every key
    tagged ``added`` / ``removed`` / ``changed`` / ``unchanged`` -- the
    regression-diff primitive behind pipeline validation ("what did
    this code change touch?") and incremental-publish decisions.

    One full-outer join on the key; change detection compares an
    xxhash64 fold of the compare columns (computed BEFORE the join, so
    the shuffle carries key + 8 bytes per side instead of both rowsets'
    full width -- at 100 TB the diff costs the same as a count join
    regardless of row width). NULL-safe: each compare column contributes
    an explicit isNull flag alongside its canonical string form, so a
    NULL can never collide with any real string value (an in-band
    sentinel like ``' null'`` would hash a NULL -> ``' null'`` transition
    as unchanged).
    """
    key = list(key)

    def fold(df: DataFrame, tag: str) -> DataFrame:
        h = F.xxhash64(*[
            part
            for c in compare_cols
            for part in (
                F.col(c).isNull().cast("int"),
                F.coalesce(F.col(c).cast("string"), F.lit("")),
            )
        ])
        return df.select(*key, h.alias(f"__h_{tag}"), F.lit(1).alias(f"__in_{tag}"))

    o = fold(old, "old")
    n = fold(new, "new")
    joined = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*key, status.alias("diff_status"))
