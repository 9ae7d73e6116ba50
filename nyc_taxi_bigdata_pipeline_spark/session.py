"""SparkSession factory + runtime-conf guard.

Replaces the reference's cluster/session setup
(``Docker/spark-defaults.conf:21-28``,
``ex05_ml_prediction_service/src/spark_session.py:16-32``) with a
single Spark-native factory. Scale defaults: AQE (coalesce + skew-join),
dynamic partition overwrite, broadcast threshold sized for dimension
tables, Arrow for pandas interchange.

``ensure_engine_confs`` exists because the correctness driver hands us a
SparkSession we did not build; it idempotently sets the *runtime-settable*
confs every query in this repo relies on (UTC session time zone so
timestamp→date casts match the tz-naive DuckDB oracle, and
``nanosAsLong`` so the ns-precision ``events`` parquet is readable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold on ANY session running our queries, including the
# driver-provided one. All of these are runtime-settable SQLConfs.
RUNTIME_CONFS: dict[str, str] = {
    # tz-naive parity with the DuckDB oracle + deterministic date math
    "spark.sql.session.timeZone": "UTC",
    # /root/testdata events.parquet stores TIMESTAMP(NANOS) which Spark 4
    # refuses by default; read as long and convert (sources/tables.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # month-scoped idempotent overwrite must hold on driver-provided
    # sessions too, or re-running one month deletes every other month's
    # partitions (write_silver also sets it per-writer as a second guard)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}

# Builder-time defaults for sessions we create ourselves.
BUILD_CONFS: dict[str, str] = {
    **RUNTIME_CONFS,
    # python workers fork from a daemon that has numpy/pandas/pyarrow
    # PRELOADED (daemon_preload.py): Spark reaps idle workers after a
    # hardcoded 1 minute, so any >1-min JVM-only stretch makes the next
    # python-boundary query pay cores× worker respawn — with the stock
    # daemon that is dominated by per-worker library imports (measured
    # 1.04 s → 0.55 s per 32-worker respawn; the r13 sweep-artifact fix)
    "spark.python.daemon.module":
        "nyc_taxi_bigdata_pipeline_spark.daemon_preload",
    # dims up to ~64 MB are broadcast: zone lookup, nation/region/enums
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.showConsoleProgress": "false",
}


DEFAULT_HEAP_GB = 32
# share of the host's memory the driver heap may take; the JVM needs
# off-heap room too (metaspace, direct buffers, Arrow/Python workers)
HOST_HEAP_FRACTION = 0.6


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def host_memory_mb(meminfo: str | None, cgroup_max: str | None) -> float | None:
    """The smaller of ``/proc/meminfo``'s MemTotal and the cgroup v2
    ``memory.max`` limit in MB, given as those files' text (None when
    unreadable; a ``max`` limit means none); None when neither is known."""
    limits = [
        int(line.split()[1]) * 1024
        for line in (meminfo or "").splitlines()
        if line.startswith("MemTotal:")
    ]
    if cgroup_max and cgroup_max.strip() != "max":
        limits.append(int(cgroup_max))
    return min(limits) / 2**20 if limits else None


def driver_heap_mb(requested_gb: str | None, meminfo: str | None, cgroup_max: str | None) -> int:
    """Driver heap in MB: ``requested_gb`` (default 32) capped at 60 % of
    ``host_memory_mb``."""
    heap_mb = float(requested_gb or DEFAULT_HEAP_GB) * 1024
    host_mb = host_memory_mb(meminfo, cgroup_max)
    return int(heap_mb if host_mb is None else min(heap_mb, HOST_HEAP_FRACTION * host_mb))


def read_text(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "nyc-taxi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster pass ~2-3× total executor cores (AQE coalesces the excess).

    Driver memory: in local mode the driver JVM IS every executor, and
    Spark's 1g default chokes a 32-thread run (GCLocker stalls, codegen
    compiler failures) long before data size is the problem. Sized by
    ``driver_heap_mb`` from SPARK_GRAFT_MEM_GB (default 32g), capped to
    what the host can hold; only applied when this process is about to
    launch the JVM — existing sessions can't be resized.
    """
    cpus = default_parallelism()
    heap_mb = driver_heap_mb(
        os.environ.get("SPARK_GRAFT_MEM_GB"),
        read_text("/proc/meminfo"),
        read_text("/sys/fs/cgroup/memory.max"),
    )
    # the preload daemon module (BUILD_CONFS) must be importable by the
    # worker daemon, whose PYTHONPATH comes from the JVM's environment —
    # which inherits THIS process's env at gateway launch. sys.path
    # insertions don't propagate; the env var does.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in {**BUILD_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # conf not settable on this build — keep going
            pass
    return spark
