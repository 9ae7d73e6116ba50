"""Record ``month_job``'s model metrics per seed, for its output check.

    python3 perfbench/record_ml.py --first 1 --last 40 > perfbench/ml_recorded.json

Run from the repository root. One driver, sized as ``run.py`` sizes it,
runs the workload's set-up and one operation per seed at bench size and
prints the JSON that ``workloads.recorded_ml_metrics`` reads. The GBT
fit is seeded, so a later run on the same inputs and core count must
reproduce these metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run as bench  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--last", type=int, required=True)
    args = ap.parse_args()

    import workloads
    from spans import Tracer

    work = ROOT / ".perfbench_work" / f"record-{os.getpid()}"
    host = bench.configure_env(work)
    size = workloads.SIZES["bench"]
    spark = bench.start_spark("perfbench-record-ml", work, host)
    try:
        metrics = {}
        for seed in range(args.first, args.last + 1):
            ctx = workloads.Ctx(spark, work / str(seed), seed, size, Tracer(spark, False))
            wl = workloads.MonthJob(ctx)
            wl.setup()
            op = wl.ops()[0]
            op.prep()
            out = op.post(op.run())
            metrics[str(seed)] = {k: out["metrics"][k] for k in workloads.ML_METRICS}
            print(f"seed {seed}: {metrics[str(seed)]}", file=sys.stderr)
        cores = spark.sparkContext.defaultParallelism
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cores": cores, "month_rows": size["month_rows"], "gbt_iter": size["gbt_iter"],
                      "metrics": metrics}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
