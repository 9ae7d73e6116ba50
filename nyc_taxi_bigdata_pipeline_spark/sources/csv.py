"""CSV source/sink operators (S8, S10).

S8: the 265-row zone lookup — read with an explicit schema (no
inference job) and meant to be broadcast at every use site.
S10: bounded report extracts (the reference writes a 2000-row EDA
sample via pandas, ``eda.py:60-63``) — here a plain Spark CSV write,
coalesced because report extracts are bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import ZONE_LOOKUP_SCHEMA


def read_zone_lookup(spark: SparkSession, path: str) -> DataFrame:
    """S8 (taxi_zone_lookup.csv): explicit schema, header skipped."""
    return spark.read.csv(path, header=True, schema=ZONE_LOOKUP_SCHEMA)


def write_report_csv(df: DataFrame, path: str, limit: int | None = None) -> None:
    """S10: bounded CSV extract. ``limit`` guards against accidentally
    dumping an unbounded table through a single writer."""
    if limit is not None:
        df = df.limit(limit)
    df.coalesce(1).write.mode("overwrite").csv(path, header=True)
