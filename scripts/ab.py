"""A/B receipts for registry queries: best-of-N round-robin over arms.

Arms (``--arm``, repeatable; the first arm is the ratio's denominator):

- ``shipped``: the code as it is.
- ``nockpt``: ``localCheckpoint`` becomes identity on the session's
  DataFrame class (``type(spark.range(0))``; on PySpark 4 that is
  ``pyspark.sql.classic.dataframe.DataFrame``, which defines its own
  method, so patching ``pyspark.sql.dataframe.DataFrame`` is a no-op),
  but only for calls made from a file under ``benchqueries/``. Operator
  stagings keep running, so the ratio belongs to the builder's staging.
- ``nockpt:SCOPE``: the same, for the calls whose caller ``file:line``
  contains SCOPE, e.g. ``nockpt:operators/dedup.py`` (every staging in
  that file) or ``nockpt:operators/dedup.py:745`` (one staging). The
  line is the one holding ``.localCheckpoint(``, not the first line of
  its chain; a SCOPE ending in a line number matches that line only
  (``:74`` does not match ``:745``).
- ``set:module.NAME=value``: sets a module constant (a Python literal)
  for the arm and restores it after, e.g.
  ``set:nyc_taxi_bigdata_pipeline_spark.operators.dedup.BROADCAST_ARRAYS_MAX_BYTES=0``.

Each query is warmed once per arm at sf0.001, then timed best-of-N
round-robin with the arm order alternating per pass. Every run collects
the rows and checksums them sorted (never ``.count()``); arms whose
checksums differ fail the run, and so does a query that returns no rows
on every arm (a receipt must not time an empty result). The receipt
JSON holds per-arm times and checksums, the calibration probes,
``cpus``, ``default_parallelism`` and the driver heap.

Usage:
    python scripts/make_scaled_testdata.py --reps 10 --out DIR
    python scripts/ab.py --sf-dir DIR --queries hdr_quantile_sketch \\
        --arm shipped --arm nockpt --passes 2 --out receipt.json
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import hashlib
import importlib
import json
import os
import re
import sys
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    _calibration,
    _calibration_par,
    _calibration_seq,
    _quiet_window_warns,
    _release_query_state,
)
from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY  # noqa: E402
from nyc_taxi_bigdata_pipeline_spark.session import get_spark  # noqa: E402

WARM_DIR = os.path.join(REPO, "perfbench", "testdata", "sf0.001")
BUILDERS = os.sep + "benchqueries" + os.sep
PROBES = {
    "calib_sec": _calibration,
    "calib_seq_sec": _calibration_seq,
    "calib_par_sec": _calibration_par,
}


@contextlib.contextmanager
def arm(spark, spec: str, stats: dict):
    """Apply one arm for the ``with`` body. ``nockpt`` counts the
    stagings in its scope that it skipped (``stats["skipped"]``) and the
    other stagings it let run (``stats["kept"]``)."""
    if spec == "shipped":
        yield
    elif spec == "nockpt" or spec.startswith("nockpt:"):
        in_scope = re.compile(re.escape(spec[7:] or BUILDERS) + r"(?!\d)").search
        cls = type(spark.range(0))
        orig = cls.localCheckpoint

        def local_checkpoint(self, *args, **kwargs):
            caller = sys._getframe(1)
            if in_scope(f"{caller.f_code.co_filename}:{caller.f_lineno}"):
                stats["skipped"] = stats.get("skipped", 0) + 1
                return self
            stats["kept"] = stats.get("kept", 0) + 1
            return orig(self, *args, **kwargs)

        with mock.patch.object(cls, "localCheckpoint", local_checkpoint):
            yield
    elif spec.startswith("set:"):
        target, _, value = spec[4:].partition("=")
        module, _, name = target.rpartition(".")
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            raise SystemExit(f"{module} has no {name}")
        with mock.patch.object(mod, name, ast.literal_eval(value)):
            yield
    else:
        raise SystemExit(
            f"unknown arm {spec!r}: shipped, nockpt[:SCOPE] or set:module.NAME=value"
        )


def checksum(rows) -> str:
    """sha256 of the sorted row reprs: order-free, exact."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def run_arm(spark, query: str, spec: str, sf_dir: str) -> dict:
    """Build, collect and checksum one query under one arm; the query's
    temp views and checkpoint blocks are released after. The session
    stays up."""
    stats: dict = {}
    try:
        with arm(spark, spec, stats):
            t0 = time.perf_counter()
            rows = REGISTRY[query].spark_fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
    finally:
        _release_query_state(spark)
    return {"s": dt, "rows": len(rows), "checksum": checksum(rows), **stats}


def host_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "cpus": os.cpu_count(),
        "default_parallelism": sc.defaultParallelism,
        "driver_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
    }


def ab(spark, queries: list[str], arms: list[str], sf_dir: str, passes: int) -> dict:
    """Warm, then time every (query, arm) best-of-``passes`` round-robin.
    Exits when two arms' checksums differ on a query, or when every arm
    returns 0 rows."""
    for q in queries:
        for a in arms:
            run_arm(spark, q, a, WARM_DIR)
    for probe in PROBES.values():
        probe(spark)  # warm the probes' codegen like the queries
    calib: dict = {k: [] for k in PROBES}
    runs: dict = {q: {a: [] for a in arms} for q in queries}
    for p in range(passes):
        for k, probe in PROBES.items():
            calib[k].append(probe(spark))
        for q in queries:
            for a in arms if p % 2 == 0 else arms[::-1]:
                r = run_arm(spark, q, a, sf_dir)
                runs[q][a].append(r)
                print(f"pass{p} {q} [{a}] {r['s']:.2f}s rows={r['rows']}", flush=True)
            sums = {r["checksum"] for a in arms for r in runs[q][a]}
            if len(sums) != 1:
                raise SystemExit(f"{q}: arms disagree on the rows ({len(sums)} checksums)")
            if all(r["rows"] == 0 for a in arms for r in runs[q][a]):
                raise SystemExit(f"{q}: 0 rows on every arm; nothing to time")
    out: dict = {"queries": {}}
    for q in queries:
        best = {a: min(r["s"] for r in runs[q][a]) for a in arms}
        out["queries"][q] = {
            "arms": {
                a: {
                    "times_s": [round(r["s"], 3) for r in runs[q][a]],
                    "best_s": round(best[a], 3),
                    "checksum": runs[q][a][0]["checksum"],
                    "rows": runs[q][a][0]["rows"],
                    "skipped": runs[q][a][0].get("skipped", 0),
                    "kept": runs[q][a][0].get("kept", 0),
                }
                for a in arms
            },
            "ratio": {a: round(best[a] / best[arms[0]], 3) for a in arms[1:]},
        }
    out["calib"] = {k: round(min(v), 3) for k, v in calib.items()}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", required=True, help="comma-separated registry names")
    ap.add_argument("--sf-dir", required=True, help="tables to time on (e.g. a salted tier)")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--arm", action="append", dest="arms",
        help="shipped | nockpt[:SCOPE] | set:module.NAME=value",
    )
    ap.add_argument("--out", help="receipt JSON path (default: stdout)")
    args = ap.parse_args()
    queries = [q for q in args.queries.split(",") if q]
    unknown = [q for q in queries if q not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    arms = args.arms or ["shipped", "nockpt"]
    spark = get_spark(app_name="ab")
    _quiet_window_warns(spark)
    try:
        receipt = {
            "sf_dir": os.path.basename(args.sf_dir.rstrip("/")),
            "passes": args.passes,
            "arms": arms,
            **host_facts(spark),
            **ab(spark, queries, arms, args.sf_dir, args.passes),
        }
    finally:
        spark.stop()
    text = json.dumps(receipt, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text if not args.out else f"receipt: {args.out}")


if __name__ == "__main__":
    main()
