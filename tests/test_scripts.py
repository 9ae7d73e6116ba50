"""The maintained scripts: each imports without Spark (engine renames
break them at import, before anyone runs them), and ``scripts/ab.py``'s
arms do what their receipts claim."""

from __future__ import annotations

import glob
import importlib.util
import os
import types

import pytest
from pyspark import SparkContext

from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY
from nyc_taxi_bigdata_pipeline_spark.operators import dedup, editdist

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _load(path: str):
    name = "scripts_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))), ids=os.path.basename
)
def test_script_imports_without_spark(path):
    before = SparkContext._active_spark_context
    mod = _load(path)
    assert callable(getattr(mod, "main", None)), "every script is run through main()"
    assert SparkContext._active_spark_context is before, "importing started Spark"


@pytest.fixture(scope="module")
def ab():
    return _load(os.path.join(SCRIPTS, "ab.py"))


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_ab_nockpt_unstages_builder_only(spark, ab):
    """hdr_quantile_sketch stages its bins in the builder and nowhere
    else: under ``nockpt`` that staging is skipped, its LogicalRDD leaves
    the plan, and the rows are the same."""
    q = "hdr_quantile_sketch"
    stats: dict = {}
    with ab.arm(spark, "nockpt", stats):
        unstaged = _plan(REGISTRY[q].spark_fn(spark, ab.WARM_DIR))
    ab._release_query_state(spark)
    staged = _plan(REGISTRY[q].spark_fn(spark, ab.WARM_DIR))
    ab._release_query_state(spark)
    assert stats == {"skipped": 1}
    assert "LogicalRDD" in staged and "LogicalRDD" not in unstaged

    shipped = ab.run_arm(spark, q, "shipped", ab.WARM_DIR)
    nockpt = ab.run_arm(spark, q, "nockpt", ab.WARM_DIR)
    assert nockpt["skipped"] >= 1 and "skipped" not in shipped
    assert shipped["rows"] > 0 and shipped["checksum"] == nockpt["checksum"]
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_ab_nockpt_keeps_operator_stagings(spark, ab):
    """curation_url_dedup_cap stages in its builder and in an operator:
    ``nockpt`` skips the builder's and lets the operator's run."""
    q = "curation_url_dedup_cap"
    shipped = ab.run_arm(spark, q, "shipped", ab.WARM_DIR)
    nockpt = ab.run_arm(spark, q, "nockpt", ab.WARM_DIR)
    assert nockpt["skipped"] >= 1 and nockpt["kept"] >= 1
    assert shipped["checksum"] == nockpt["checksum"]
    # the patch is gone once the arm ends: a direct call stages again
    assert "LogicalRDD" in _plan(spark.range(3).localCheckpoint())
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_ab_nockpt_scope_unstages_one_operator_staging(spark, ab):
    """``nockpt:SCOPE`` skips only the stagings whose caller ``file:line``
    contains SCOPE. fuzzy_join_levenshtein reaches one staging in
    operators/editdist.py; the caller's line is the one holding
    ``.localCheckpoint(``, not the first line of its chain, and a line
    number matches whole (``:15`` does not match ``:153``)."""
    q = "fuzzy_join_levenshtein"
    shipped = ab.run_arm(spark, q, "shipped", ab.WARM_DIR)
    scoped = ab.run_arm(spark, q, "nockpt:operators/editdist.py", ab.WARM_DIR)
    assert scoped["skipped"] == 1
    assert shipped["rows"] > 0 and shipped["checksum"] == scoped["checksum"]

    with open(editdist.__file__) as f:
        line = next(i for i, text in enumerate(f, 1) if ".localCheckpoint(" in text)
    for scope_line, skipped in ((line, 1), (line - 1, 0), (line // 10, 0)):
        stats: dict = {}
        with ab.arm(spark, f"nockpt:operators/editdist.py:{scope_line}", stats):
            REGISTRY[q].spark_fn(spark, ab.WARM_DIR)
        ab._release_query_state(spark)
        assert stats.get("skipped", 0) == skipped, scope_line


def test_ab_set_arm_restores_constant(spark, ab):
    before = dedup.BROADCAST_ARRAYS_MAX_BYTES
    spec = "set:nyc_taxi_bigdata_pipeline_spark.operators.dedup.BROADCAST_ARRAYS_MAX_BYTES=0"
    with ab.arm(spark, spec, {}):
        assert dedup.BROADCAST_ARRAYS_MAX_BYTES == 0
    assert dedup.BROADCAST_ARRAYS_MAX_BYTES == before
    with pytest.raises(RuntimeError), ab.arm(spark, spec, {}):
        raise RuntimeError("a failing run still restores")
    assert dedup.BROADCAST_ARRAYS_MAX_BYTES == before
    with pytest.raises(SystemExit), ab.arm(spark, "conf:spark.sql.shuffle.partitions=1", {}):
        pass


def test_ab_refuses_empty_results(spark, ab, monkeypatch):
    """A query that returns 0 rows on every arm stops the run instead of
    writing a receipt that times an empty result; one with rows goes
    through."""
    monkeypatch.setattr(ab, "PROBES", {})
    for name, n in (("ab_empty", 0), ("ab_rows", 3)):
        fn = lambda spark, sf_dir, n=n: spark.range(n)  # noqa: E731
        monkeypatch.setitem(REGISTRY, name, types.SimpleNamespace(spark_fn=fn))
    with pytest.raises(SystemExit, match="0 rows on every arm"):
        ab.ab(spark, ["ab_empty"], ["shipped", "nockpt"], ab.WARM_DIR, 1)
    got = ab.ab(spark, ["ab_rows"], ["shipped", "nockpt"], ab.WARM_DIR, 1)
    assert got["queries"]["ab_rows"]["arms"]["shipped"]["rows"] == 3
