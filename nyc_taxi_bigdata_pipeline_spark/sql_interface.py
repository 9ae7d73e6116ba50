"""SQL access layer (S7 parity, Spark-native).

The reference's dashboard speaks SQL to Postgres (``app.py:136-145``);
here the same SQL surface is served by Spark itself: register the gold
tables as temp views once, then ``spark.sql(...)`` anywhere. Catalyst
replaces the Postgres planner; the B-tree indexes of ``indexes.sql``
become partition pruning + broadcast joins (SURVEY §4).

Two of the ``DASHBOARD_SQL`` shapes depart from the reference's text and
return the same rows in the same order:

- ``daily_trips`` and ``hourly_trips`` end in ``SORT BY`` under a
  ``COALESCE(1)`` hint instead of ``ORDER BY``. Their result is one row
  per day or hour, so one partition holds it at any scale, while a
  global ``ORDER BY`` range-partitions its input (a sampling job plus a
  sort shuffle) to order at most a few hundred rows. The partial
  aggregate and its shuffle stay parallel.
- ``hourly_trips`` takes the hour from the ``'HH:mm'`` time key, as
  ``analytics.hourly_trips`` does, instead of joining ``dim_time``
  (SURVEY A4's Spark form is ``groupBy(hour(ts))``). Every fact row has
  a pickup (the month window requires one), so its ``pickup_time`` is a
  ``dim_time`` key and the reference's inner join drops no row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.fs import hadoop_path_exists

STAR_TABLES = (
    "fact_trip",
    "dim_date",
    "dim_time",
    "dim_location",
    "dim_vendor",
    "dim_payment_type",
    "dim_ratecode",
)


def register_star(spark: SparkSession, gold_path: str) -> list[str]:
    """Register every gold table found under ``gold_path`` as a temp
    view. Returns the registered names. ``gold_path`` is any Hadoop
    path: a local directory or a ``file://``, ``s3a://`` or ``hdfs://``
    URI."""
    found = []
    for name in STAR_TABLES:
        p = f"{gold_path.rstrip('/')}/{name}"
        if hadoop_path_exists(spark, p):
            spark.read.parquet(p).createOrReplaceTempView(name)
            found.append(name)
    return found


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Thin alias so callers importing only this module can query."""
    return spark.sql(query)


# The five dashboard query shapes as SQL text (app.py:239-418) — usable
# directly after register_star; analytics.py offers the same queries as
# composable DataFrame functions. The module docstring says where the
# text departs from the reference's.
DASHBOARD_SQL = {
    "kpis": """
        SELECT COUNT(*) AS total_trips, SUM(total_amount) AS total_revenue,
               AVG(total_amount) AS avg_amount, AVG(trip_distance) AS avg_distance
        FROM fact_trip
        WHERE pickup_date BETWEEN '{date_from}' AND '{date_to}'""",
    "daily_trips": """
        SELECT /*+ COALESCE(1) */ pickup_date, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip
        WHERE pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY pickup_date SORT BY pickup_date""",
    "hourly_trips": """
        SELECT /*+ COALESCE(1) */ CAST(substring(pickup_time, 1, 2) AS INT) AS hour,
               COUNT(*) AS trips
        FROM fact_trip
        WHERE pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY CAST(substring(pickup_time, 1, 2) AS INT) SORT BY hour""",
    "payment_breakdown": """
        SELECT p.payment_description, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip f LEFT JOIN dim_payment_type p
          ON f.payment_type_id = p.payment_type_id
        WHERE f.pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY p.payment_description""",
    "top_zones": """
        SELECT l.borough, l.zone, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip f JOIN dim_location l
          ON f.pickup_location_id = l.location_id
        WHERE f.pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY l.borough, l.zone
        ORDER BY trips DESC, l.borough, l.zone LIMIT {k}""",
}


def dashboard_query(
    spark: SparkSession,
    name: str,
    date_from: str = "0001-01-01",
    date_to: str = "9999-12-31",
    k: int = 10,
) -> DataFrame:
    return spark.sql(DASHBOARD_SQL[name].format(date_from=date_from, date_to=date_to, k=k))
