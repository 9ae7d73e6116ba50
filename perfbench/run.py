"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload month_job --seed 1 --seconds 1 --trace 0

Run from the repository root. Starts one Spark driver on ``local[nproc]``
with a heap sized from physical memory, sets up the workload's inputs,
then runs its operations in a closed loop with one client: whole
batches (a monthly job, a dashboard round, a registry pass) until
``--seconds`` have passed. Every output is checked after the window; a wrong answer
counts as a failed operation.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics of ``BENCHMARK.json`` when
``--trace 0`` and its per-layer metrics when ``--trace 1``. The full
record (host facts, calibration probes, every operation, spans, tracing
overhead) is written to ``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    return ap.parse_args(argv)


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def configure_env(work: Path) -> dict:
    """Host-sized cores and heap, and every scratch path inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(2, int(host_memory_gb() * 0.3)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MEM_GB": str(heap_gb),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the run starts (launcher and driver): temp files in
        # ``work``, and no hsperfdata file, which would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return {"cpus": cpus, "driver_heap_gb": heap_gb, "tmp": str(tmp)}


def start_spark(app: str, work: Path, host: dict):
    from nyc_taxi_bigdata_pipeline_spark.session import get_spark

    return get_spark(app, extra_confs={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": host["tmp"],
        # the traced rollup reads every job and stage of the run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def calibration(spark) -> dict:
    """bench.py's three host-speed probes at 1/20 of their size: pure
    codegen on all cores, the same on one core, and a 4096-key exchange."""
    import pyspark.sql.functions as F

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.collect()
        return time.perf_counter() - t0

    h = F.xxhash64(F.col("id"), F.lit(42)).alias("h")
    return {
        "scale": 0.05,
        "calib_s": timed(spark.range(10_000_000).select(h).agg(F.expr("bit_xor(h)"))),
        "calib_seq_s": timed(spark.range(0, 1_000_000, numPartitions=1).select(h).agg(F.expr("bit_xor(h)"))),
        "calib_par_s": timed(
            spark.range(2_500_000).select(F.xxhash64(F.col("id"), F.lit(7)).alias("h"))
            .groupBy(F.pmod(F.col("h"), F.lit(4096)).alias("k"))
            .agg(F.expr("bit_xor(h)").alias("x"), F.count("*").alias("c"))
            .agg(F.expr("bit_xor(x)"), F.expr("sum(c)"))
        ),
    }


def execute(op, op_id: str, tracer):
    from workloads import Record

    if op.prep:
        op.prep()
    tracer.set_op(op_id)
    t0 = time.perf_counter()
    try:
        out, err = op.run(), None
    except Exception:  # one failed operation must not end the run
        out, err = None, traceback.format_exc()
    seconds = time.perf_counter() - t0
    if err is None and op.post:
        try:
            out = op.post(out)
        except Exception:
            out, err = None, traceback.format_exc()
    if err:
        print(f"operation {op_id} ({op.label}) failed:\n{err}", file=sys.stderr)
    return Record(op_id, op.label, seconds, out, err)


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer

    state = ROOT / ".perfbench_work"
    work = state / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    host = configure_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{args.workload}", work, host)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        ctx = workloads.Ctx(spark, work, args.seed, workloads.SIZES[args.size], tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)

        t1 = time.perf_counter()
        # no separate warm-up: each run is one short-lived driver, as a
        # monthly batch job is, so operations meet a fresh JVM
        wl.setup()
        t2 = time.perf_counter()

        records = []
        deadline = t2 + args.seconds
        while time.perf_counter() < deadline:
            for op in wl.ops():
                records.append(execute(op, str(len(records)), tracer))
        window_s = time.perf_counter() - t2
        # before the checks: their oracles run in this process
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        ok = [r.error is None and wl.check(r) for r in records]
        prints = [wl.fingerprint(r) if r.error is None else None for r in records]
        failed = ok.count(False)

        tracer.set_op("host")
        tracer.group("host")
        host.update({
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            **calibration(spark),
        })

        lat = [r.seconds for r in records]
        e2e = {
            "setup_s": session_start_s + (t2 - t1),
            "op_p50_ms": median(lat) * 1000,
            "ops_per_s": len(lat) / sum(lat),
        }
        layers = None
        if args.trace:
            stats = tracer.collect()
            layers = {
                "session.start_s": session_start_s,
                "session.build_s": t2 - t1,
                "session.peak_rss_mb": peak_rss_mb,
                "sources.input_bytes": sum(s.input_bytes for (_, op), s in stats.items()
                                           if op.isdigit()) / len(records),
                "sources.input_records": sum(s.input_records for (_, op), s in stats.items()
                                             if op.isdigit()) / len(records),
                **wl.layer_metrics(records, stats),
            }
        values = layers or e2e
        result = {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                        for m in wanted},
        }
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "host": host,
            "phases_s": {"session": session_start_s, "setup": t2 - t1, "window": window_s},
            "end_to_end": e2e, "per_layer": layers,
            "ops": [{"op": r.op, "label": r.label, "seconds": r.seconds, "ok": good,
                     "fingerprint": fp, "error": r.error} for r, good, fp in zip(records, ok, prints)],
            "spans": tracer.dump(),
        }
        write_report(state / "reports", report)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def write_report(reports: Path, report: dict) -> None:
    """Save the run's record; when the run of the other trace mode for the
    same workload and seed is there, state the tracing overhead."""
    reports.mkdir(parents=True, exist_ok=True)
    stem = f"{report['workload']}-seed{report['seed']}-{report['size']}"
    path = reports / f"{stem}-trace{report['trace']}.json"
    other = reports / f"{stem}-trace{1 - report['trace']}.json"
    if other.exists():
        o = json.loads(other.read_text())
        traced, plain = (report, o) if report["trace"] else (o, report)
        report["trace_overhead"] = {
            k: v - plain["end_to_end"][k] for k, v in traced["end_to_end"].items()
            if k in plain["end_to_end"]
        }
    path.write_text(json.dumps(report, indent=1, default=str))
    print(f"report: {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
