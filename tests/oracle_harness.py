"""Local mirror of the driver's correctness gate.

Runs each registry query on Spark AND its DuckDB oracle, normalizes both
results (column-name sort, row sort, value canonicalization) and compares
*exactly* — the strictest plausible interpretation of the driver's
"row-count + schema + value-hash" check. Used by tests and by the
`scripts/check_parity.py` dev loop.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import math
import os
import shutil
import tempfile
from dataclasses import dataclass

import duckdb
import pandas as pd

from nyc_taxi_bigdata_pipeline_spark.session import driver_heap_mb, host_memory_mb, read_text

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_memory_limit_mb(
    requested_gb: str | None, meminfo: str | None, cgroup_max: str | None
) -> int | None:
    """DuckDB's memory limit next to the Spark driver in this process:
    half of what the driver heap leaves of the host, so DuckDB, the heap,
    the JVM's off-heap memory and Python stay under physical RAM
    (DuckDB's own default, 80 % of RAM, does not see the JVM). Same
    inputs as ``session.driver_heap_mb``; None when the host is unknown."""
    host_mb = host_memory_mb(meminfo, cgroup_max)
    if host_mb is None:
        return None
    heap_mb = driver_heap_mb(requested_gb, meminfo, cgroup_max)
    return int((host_mb - heap_mb) / 2)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    config = {"temp_directory": tempfile.mkdtemp(prefix="duck-oracle-")}
    atexit.register(shutil.rmtree, config["temp_directory"], True)
    limit_mb = duck_memory_limit_mb(
        os.environ.get("SPARK_GRAFT_MEM_GB"),
        read_text("/proc/meminfo"),
        read_text("/sys/fs/cgroup/memory.max"),
    )
    if limit_mb is not None:
        config["memory_limit"] = f"{limit_mb}MB"
    con = duckdb.connect(config=config)
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        t = pd.Timestamp(v)
        # DuckDB DATE → pandas midnight Timestamp while Spark yields
        # datetime.date; both are Arrow date32 at the driver, so fold
        # midnight timestamps down to dates.
        if t == t.normalize():
            return t.date().isoformat()
        return t.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "as_py"):
        v = v.as_py()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """(sorted column names, canonicalized rows sorted by repr).

    Works on plain Python lists — pandas dtype inference would coerce the
    None we use for NULL/NaN back into float NaN.
    """
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return cols, rows


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1


def compare_frames(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> ParityResult:
    s_cols, s_rows = normalize(sdf)
    o_cols, o_rows = normalize(odf)
    if s_cols != o_cols:
        return ParityResult(name, False, f"columns differ: {s_cols} vs {o_cols}",
                            len(s_rows), len(o_rows))
    if len(s_rows) != len(o_rows):
        return ParityResult(name, False, f"row counts differ: {len(s_rows)} vs {len(o_rows)}",
                            len(s_rows), len(o_rows))
    bad = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
    if bad:
        i, a, b = bad[0]
        return ParityResult(
            name, False,
            f"{len(bad)} mismatched rows (of {len(s_rows)}); first at sorted-row {i}:\n"
            f"  cols   {s_cols}\n  spark  {a!r}\n  oracle {b!r}",
            len(s_rows), len(o_rows),
        )
    if not s_rows:
        # empty==empty proves nothing about the query logic (a sign-flipped
        # predicate would be invisible) — still "ok", but flag it loudly so
        # a vacuous parity row can't hide (r4 verdict finding #1).
        return ParityResult(name, True, "WARNING: 0-row oracle — vacuous match",
                            0, 0)
    return ParityResult(name, True, "", len(s_rows), len(o_rows))


def run_parity(spark, sf_dir: str, names: list[str] | None = None) -> list[ParityResult]:
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY

    con = duck_connection(sf_dir)
    results = []
    for name, q in REGISTRY.items():
        if names and name not in names:
            continue
        try:
            sdf = q.spark_fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results.append(ParityResult(name, False, f"spark error: {e}"))
            continue
        if q.oracle is None:
            ok = len(sdf) >= 0
            results.append(ParityResult(name, ok, "rows-only (no oracle)", len(sdf), -1))
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            results.append(ParityResult(name, False, f"oracle error: {e}"))
            continue
        results.append(compare_frames(name, sdf, odf))
    return results
