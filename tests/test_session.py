"""Driver-heap sizing from the host's memory (no JVM needed), and the
host facts ``bench.py`` reports from a live session."""

from __future__ import annotations

from nyc_taxi_bigdata_pipeline_spark.session import default_parallelism, driver_heap_mb

MEMINFO_15G = "MemTotal:       15728640 kB\nMemFree:        14000000 kB\n"


def test_default_heap_capped_by_memtotal():
    # 32 GB default does not fit: 60 % of 15 GB
    assert driver_heap_mb(None, MEMINFO_15G, None) == int(0.6 * 15 * 1024)


def test_requested_heap_below_cap_is_kept():
    assert driver_heap_mb("2", MEMINFO_15G, "max\n") == 2048


def test_cgroup_limit_below_memtotal_wins():
    four_gb = str(4 * 2**30) + "\n"
    assert driver_heap_mb("8", MEMINFO_15G, four_gb) == int(0.6 * 4 * 1024)


def test_no_host_info_keeps_requested_or_default():
    assert driver_heap_mb(None, None, None) == 32 * 1024
    assert driver_heap_mb("3", "", "max") == 3 * 1024


def test_duck_oracle_limit_fits_beside_the_driver_heap():
    from .oracle_harness import duck_memory_limit_mb

    # 15 GB host, default heap 9 GB: DuckDB takes half of the 6 GB left
    assert duck_memory_limit_mb(None, MEMINFO_15G, None) == int(0.4 * 15 * 1024 / 2)
    four_gb = str(4 * 2**30) + "\n"
    assert duck_memory_limit_mb("1", MEMINFO_15G, four_gb) == (4 - 1) * 1024 // 2
    assert duck_memory_limit_mb(None, None, None) is None


def test_bench_host_facts_read_the_session(spark):
    import bench

    facts = bench._host_facts(spark)
    assert facts["cpus"] == default_parallelism()
    assert facts["default_parallelism"] == spark.sparkContext.defaultParallelism
    heap_mb = int(spark.sparkContext.getConf().get("spark.driver.memory").rstrip("m"))
    assert facts["driver_heap_gb"] == round(heap_mb / 1024, 2)
