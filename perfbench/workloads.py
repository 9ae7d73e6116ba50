"""The three workloads: what one operation is, how inputs are set up,
and how each operation's output is checked.

Each workload drives the engine only through its public module
functions. Inputs come from ``inputs.py`` and are staged to parquet
before timing; the engine sees nothing but those files.

- ``month_job``: the monthly job, one ``pipeline.run_month`` of a fresh
  month onto a gold zone that already holds the previous month (the
  write path), then features → GBT train/evaluate → batch score →
  error tables → registry promote-or-discard (iterative MLlib, job
  overhead).
- ``dashboard``: a seeded stream of the five dashboard shapes over a
  one-month star schema in ``run_month``'s layout, through ``analytics``
  and through ``sql_interface`` SQL text (the read path of the same
  tables).
- ``registry_headline``: a seeded-order pass over the headline queries
  of the dedup, text, fuzzy and graph modules, whose operators no other
  workload runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from statistics import mean, median
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nyc_taxi_bigdata_pipeline_spark import analytics, ingest, pipeline, quality, sql_interface, warehouse
from nyc_taxi_bigdata_pipeline_spark.ingest import read_silver
from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY
from nyc_taxi_bigdata_pipeline_spark.ml import errors, features, predict, registry, train
from nyc_taxi_bigdata_pipeline_spark.schema import ML_REQUIRED_TRAIN

import inputs
from spans import LayerStats, Tracer, union_length

YEAR = 2024

# bench: sized so that every run, set-up included, stays under a minute
# on 4 cores; smoke: the smallest inputs that still pass every gate
SIZES = {
    "bench": {"month_rows": 20_000, "dash_rows": 40_000, "gbt_iter": 1},
    "smoke": {"month_rows": 3_000, "dash_rows": 3_000, "gbt_iter": 1},
}


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    prep: Callable[[], None] | None = None  # untimed, before run
    post: Callable[[Any], Any] | None = None  # untimed, turns output into a checkable record


@dataclass
class Record:
    op: str
    label: str
    seconds: float
    output: Any = None
    error: str | None = None


@dataclass
class Ctx:
    spark: Any
    work: Path
    seed: int
    size: dict
    tracer: Tracer
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 0xD5])


def _write(table: pa.Table, path: Path) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return str(path)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _digest(rows: list[tuple]) -> str:
    """A short hash of result rows, floats to 10 significant digits so
    the last bits of a floating sum, which depend on its order, do not
    change it."""
    canon = [tuple(f"{v:.10g}" if isinstance(v, float) else v for v in r) for r in rows]
    return hashlib.sha1(repr(canon).encode()).hexdigest()[:12]


def _rows_match(actual: list[tuple], expected: list[tuple]) -> bool:
    return len(actual) == len(expected) and all(
        len(a) == len(e) and all(_close(x, y) for x, y in zip(a, e))
        for a, e in zip(actual, expected)
    )


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        """The next operations of the closed loop (a whole pass at a time)."""
        raise NotImplementedError

    def check(self, rec: Record) -> bool:
        raise NotImplementedError

    def fingerprint(self, rec: Record) -> Any:
        """A small, exact summary of the output, recorded in the report."""
        return None

    def layer_metrics(self, records: list[Record], stats: dict[tuple[str, str], LayerStats]) -> dict:
        return {}


def _stat(stats: dict[tuple[str, str], LayerStats], layer: str, op: str) -> LayerStats:
    return stats.get((layer, op)) or LayerStats()


# ------------------------------------------------------------ oracles


def clean_mask(t: pa.Table, year: int, month: int) -> np.ndarray:
    """pandas restatement of ``ingest.clean_month``'s filters."""
    df = t.to_pandas()
    start, end = (pd.Timestamp(x, tz="UTC") for x in inputs.month_bounds(year, month))
    p, d = df.tpep_pickup_datetime, df.tpep_dropoff_datetime
    return (
        p.notna() & d.notna() & (p >= start) & (p < end)
        & df.PULocationID.notna() & df.DOLocationID.notna()
        & (df.trip_distance >= 0) & (df.total_amount >= 0)
        & (df.passenger_count.isna() | (df.passenger_count >= 0))
    ).to_numpy()


def clean_table(t: pa.Table, year: int, month: int) -> pa.Table:
    return t.filter(pa.array(clean_mask(t, year, month)))


def ml_rows(clean: pd.DataFrame) -> int:
    """Rows of a clean month that survive ``features.build_feature_table``."""
    dur = (clean.tpep_dropoff_datetime - clean.tpep_pickup_datetime).dt.total_seconds() / 60.0
    ok = (dur > 0) & (dur < 24 * 60) & (clean.trip_distance >= 0) & (clean.total_amount >= 0)
    raw_cols = [c for c in ML_REQUIRED_TRAIN if c in clean.columns]
    return int((ok & clean[raw_cols].notna().all(axis=1)).sum())


def fact_checksum(fact: pa.Table) -> tuple:
    """Order-free checksum of a fact table: row count and sums of date,
    minute, locations, vendor and cents."""
    f = fact.to_pandas()
    days = pd.to_datetime(f.pickup_date).astype("int64") // (86400 * 10**9)
    hm = f.pickup_time.str.split(":", expand=True).astype(int)
    return (
        len(f), int(days.sum()), int((hm[0] * 60 + hm[1]).sum()),
        int(f.pickup_location_id.sum()), int(f.dropoff_location_id.sum()), int(f.vendor_id.sum()),
        int(np.round(f.trip_distance * 100).sum()), int(np.round(f.total_amount * 100).sum()),
    )


# ---------------------------------------------------------- month_job

ML_METRICS = ("rmse", "mae", "r2")
ML_RECORDED = Path(__file__).resolve().parent / "ml_recorded.json"


def recorded_ml_metrics(size: dict, cores: int) -> dict[str, dict]:
    """Model metrics per seed that ``record_ml.py`` recorded for this
    size and core count (the GBT's split candidates depend on the
    partition count), or nothing."""
    if not ML_RECORDED.exists():
        return {}
    rec = json.loads(ML_RECORDED.read_text())
    same = rec["cores"] == cores and all(rec.get(k) == size[k] for k in ("month_rows", "gbt_iter"))
    return rec["metrics"] if same else {}


class MonthJob(Workload):
    """The reference's monthly job: ``run_month`` of April onto a gold
    zone holding March, then the ML month, trained on the January–March
    silver partitions and tested on the April partition ``run_month``
    has just written.

    January–March silver and March's gold are written in set-up in the
    engine's layout, so each operation is the first monthly job of a
    fresh driver, as a scheduled batch job is."""

    name = "month_job"
    MONTH = 4
    TRAIN = [(YEAR, 1), (YEAR, 2), (YEAR, 3)]

    def setup(self) -> None:
        c, n = self.ctx, self.ctx.size["month_rows"]
        self.base = c.work / "base"
        clean = {}
        for m in (1, 2, 3, self.MONTH):
            raw = inputs.trips_month(c.spark, c.seed, YEAR, m, n)
            clean[m] = clean_table(raw, YEAR, m)
            if m == self.MONTH:
                self.raw = _write(raw, c.work / "raw" / f"m{m}.parquet")
                rows_in = raw.num_rows
            else:
                _write(clean[m], self.base / "silver" / f"year={YEAR}" / f"month={m}" / "part-0.parquet")
        prev, new = clean[self.MONTH - 1], clean[self.MONTH]
        inputs.write_star(prev, str(self.base / "gold"))
        self.zones_path = _write(inputs.zone_lookup(), c.work / "zones.parquet")
        self.base_fact_rows = prev.num_rows
        self.expect = {
            "rows_in": rows_in,
            "rows_out": new.num_rows,
            "fact_rows": prev.num_rows + new.num_rows,
            # March's rows plus all of April's, none of them a duplicate
            "checksum": fact_checksum(pa.concat_tables(inputs.star_tables(t)["fact_trip"] for t in (prev, new))),
            "train_rows": sum(ml_rows(clean[m].to_pandas()) for _, m in self.TRAIN),
            "test_rows": ml_rows(new.to_pandas()),
        }
        self.max_iter = c.size["gbt_iter"]
        self.reference = recorded_ml_metrics(c.size, self.spark.sparkContext.defaultParallelism).get(str(c.seed))
        self._patch_layers()

    def _patch_layers(self) -> None:
        t = self.tracer
        for fn in ("ingest_month", "read_silver"):
            t.patch(ingest, fn, "ingest")
        for fn in ("build_fact", "load_fact_idempotent", "seed_enum_dims",
                   "build_dim_location", "build_dim_date", "build_dim_time"):
            t.patch(warehouse, fn, "warehouse")
        for fn in ("retention_check", "min_rowcount_check"):
            t.patch(quality, fn, "quality")
        t.patch(train, "evaluate", "ml.train.evaluate")

    def ops(self) -> list[Op]:
        d = self.ctx.work / "op"
        silver, gold, reg_root = d / "silver", d / "gold", d / "registry"
        test = [(YEAR, self.MONTH)]
        tag = f"{YEAR}-{self.MONTH:02d}"
        t = self.tracer

        def prep():
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(self.base, d)

        def run():
            with t.span("pipeline"):
                month = pipeline.run_month(self.spark, self.spark.read.parquet(self.raw),
                                           self.spark.read.parquet(self.zones_path),
                                           str(silver), str(gold), YEAR, self.MONTH)
            with t.span("ml.features"):
                # the unpatched reader: this read is the ML layer's, not ingest's
                train_df = features.build_feature_table(read_silver(self.spark, str(silver), self.TRAIN))
                test_df = features.build_feature_table(read_silver(self.spark, str(silver), test))
            with t.span("ml.train"):
                res = train.train_and_evaluate(train_df, test_df, train.build_pipeline(max_iter=self.max_iter))
            with t.span("ml.predict"):
                preds, report = predict.score_batch(res.model, test_df, with_label=True)
            with t.span("ml.errors"):
                pr = errors.with_residuals(preds)
                summary = errors.error_summary(pr).first()
                buckets = errors.bucket_errors(pr).collect()
            with t.span("ml.registry"):
                reg = registry.ModelRegistry(reg_root)
                reg.register_candidate(res.model, res.metrics, tag)
                decision = reg.promote_or_discard(res.metrics, tag)
            return month, {
                "metrics": res.metrics, "train_rows": res.train_rows, "test_rows": res.test_rows,
                "fit_s": res.train_seconds, "scored": report["rows"], "implausible": report["implausible"],
                "summary_n": summary["n"], "bucket_n": sum(b["n"] for b in buckets), "decision": decision,
            }

        def post(out):
            month, ml = out
            res = {**month.counts, **ml, "gates": [c.status for c in month.checks],
                   "checksum": fact_checksum(pq.read_table(gold / "fact_trip"))}
            shutil.rmtree(d, ignore_errors=True)
            return res

        return [Op("month", run, prep, post)]

    def check(self, rec: Record) -> bool:
        o, met = rec.output, rec.output["metrics"]
        return (
            all(o[k] == self.expect[k] for k in self.expect)
            and len(o["gates"]) == 3 and all(g == "PASS" for g in o["gates"])
            and o["scored"] == o["summary_n"] == o["bucket_n"] == self.expect["test_rows"]
            and o["implausible"] == 0 and o["decision"] == "promoted"
            and all(math.isfinite(v) for v in met.values()) and met["r2"] > 0
            # the fit is seeded: a drift from the recorded metrics is a wrong answer
            and (self.reference is None
                 or all(_close(met[k], self.reference[k]) for k in ML_METRICS))
        )

    def fingerprint(self, rec: Record) -> Any:
        o = rec.output
        return {**{k: o[k] for k in self.expect}, "rmse": round(o["metrics"]["rmse"], 4),
                "recorded": self.reference is not None,
                "metrics": {k: o["metrics"][k] for k in ML_METRICS}}

    def layer_metrics(self, records, stats) -> dict:
        ok = [r for r in records if r.error is None]
        if not ok:
            return {}
        ops = [r.op for r in ok]

        def per_op(layer, attr):
            return mean(getattr(_stat(stats, layer, op), attr) for op in ops)

        m = {}
        for layer in ("ingest", "warehouse", "quality"):
            m[f"{layer}.wall_s"] = per_op(layer, "wall_s")
            m[f"{layer}.jobs"] = per_op(layer, "jobs")
        m["ingest.task_s"] = per_op("ingest", "task_s")
        m["ingest.gc_s"] = per_op("ingest", "gc_s")
        m["ingest.output_bytes"] = per_op("ingest", "output_bytes")
        m["warehouse.shuffle_write_bytes"] = per_op("warehouse", "shuffle_write_bytes")
        m["warehouse.spill_bytes"] = per_op("warehouse", "spill_bytes")
        m["warehouse.output_bytes"] = per_op("warehouse", "output_bytes")
        o = ok[0].output
        m["ingest.retention"] = o["rows_out"] / o["rows_in"]
        m["warehouse.insert_ratio"] = (o["fact_rows"] - self.base_fact_rows) / o["rows_out"]
        # run_month's own driver time: its span minus every layer's busy time
        self_s = []
        for op in ops:
            inner = [iv for layer in ("ingest", "warehouse", "quality")
                     for iv in _stat(stats, layer, op).intervals]
            self_s.append(_stat(stats, "pipeline", op).wall_s - union_length(inner))
        m["pipeline.self_s"] = mean(self_s)
        m["pipeline.wall_s"] = per_op("pipeline", "wall_s")

        train_jobs = per_op("ml.train", "jobs")
        m.update({
            "ml.features.wall_s": per_op("ml.features", "wall_s"),
            "ml.train.fit_s": mean(r.output["fit_s"] for r in ok),
            "ml.train.jobs": train_jobs,
            "ml.train.jobs_per_iter": train_jobs / self.max_iter,
            "ml.train.task_s": per_op("ml.train", "task_s"),
            "ml.train.evaluate_s": per_op("ml.train.evaluate", "wall_s"),
            "ml.predict.score_s": per_op("ml.predict", "span_s"),
            "ml.predict.rows_per_s": mean(r.output["scored"] for r in ok) / per_op("ml.predict", "span_s"),
            "ml.errors.wall_s": per_op("ml.errors", "wall_s"),
            "ml.registry.save_s": per_op("ml.registry", "span_s"),
        })
        return m


# ---------------------------------------------------------- dashboard

SHAPES = ("kpis", "daily_trips", "hourly_trips", "payment_breakdown", "top_zones")
_UNORDERED = {"kpis", "payment_breakdown"}


def _comparable(path: str, shape: str, rows: list) -> list[tuple]:
    """A dashboard result in the oracle's form: without the rank column
    only ``analytics.top_zones`` adds, and sorted where order is free."""
    rows = [tuple(r) for r in rows]
    if shape == "top_zones" and path == "analytics":
        rows = [r[:4] for r in rows]
    return sorted(rows, key=repr) if shape in _UNORDERED else rows


class Dashboard(Workload):
    """Dashboard queries over a one-month star schema in ``run_month``'s layout.

    One operation is one query: one of the five shapes for one widget
    state, the latency after which that widget is drawn. A round is five
    pages (widget states) in seeded order, each its five shapes in turn.
    Filters range from none to IN-lists: through ``analytics`` the whole
    month unfiltered and one widget state (a 10-day range, two payment
    types, two boroughs and three busy zones in them); one 10-day range
    through both ``analytics`` and the SQL text; another through the SQL
    text. The seed picks the values, so every seed measures the same mix;
    a run measures whole rounds. Each query's plan runs for the first
    time when timed, as a new widget state does."""

    name = "dashboard"
    # the pages of a round; the SQL text takes date ranges only, and
    # date_a goes through both paths, which must then agree
    PAGES = (("analytics", "all"), ("analytics", "widgets"), ("analytics", "date_a"),
             ("sql", "date_a"), ("sql", "date_b"))

    def setup(self) -> None:
        # The star is written here, in run_month's layout, rather than by
        # run_month: month_job measures that path, and a cold run_month
        # would double this workload's set-up.
        c, gold = self.ctx, self.ctx.work / "gold"
        t = inputs.trips_month(c.spark, c.seed, YEAR, 1, c.size["dash_rows"])
        inputs.write_star(clean_table(t, YEAR, 1), str(gold))
        sql_interface.register_star(self.spark, str(gold))
        self.fact = self.spark.read.parquet(str(gold / "fact_trip"))
        self.dims = {d: self.spark.read.parquet(str(gold / d))
                     for d in ("dim_location", "dim_payment_type")}
        self.fact_pd = pq.read_table(gold / "fact_trip").to_pandas()
        self.loc_pd = pq.read_table(gold / "dim_location").to_pandas()
        self.pay_pd = pq.read_table(gold / "dim_payment_type").to_pandas()
        self.filters = self._filters()
        self.expected: dict[tuple[str, str], list[tuple]] = {}
        # The session's first query through each path pays one-off costs
        # (first collect, first broadcast of each dimension) that would
        # otherwise land on whichever timed query the seed puts first.
        month = (f"{YEAR}-01-01", f"{YEAR}-01-31")
        self._query("analytics", "top_zones", analytics.TripFilters(
            *month, payment_descriptions=["Cash", "Credit card"], boroughs=["Manhattan", "Queens"]))
        self._query("sql", "top_zones", analytics.TripFilters(*month))

    def _filters(self) -> dict[str, analytics.TripFilters]:
        rng = self.ctx.rng
        F = analytics.TripFilters

        def date_range():
            start = np.datetime64(f"{YEAR}-01-01") + int(rng.integers(0, 21))
            return str(start), str(start + 9)

        busy = self.fact_pd.pickup_location_id.value_counts()
        loc = self.loc_pd.set_index("location_id")

        def widgets():
            boroughs = sorted(rng.choice(inputs.BOROUGHS[:5], 2, replace=False))
            in_b = [z for z in busy.index if loc.borough[z] in boroughs][:10]
            return F(
                *date_range(),
                payment_descriptions=sorted(rng.choice(["Credit card", "Cash", "No charge", "Dispute"],
                                                       2, replace=False)),
                boroughs=boroughs,
                zones=sorted(loc.zone[int(z)] for z in rng.choice(in_b, 3, replace=False)),
            )

        return {"all": F(), "date_a": F(*date_range()), "date_b": F(*date_range()),
                "widgets": widgets()}

    def _query(self, path: str, shape: str, flt: analytics.TripFilters) -> dict:
        if path == "analytics":
            with self.tracer.span(f"analytics.{shape}"):
                return {"rows": getattr(analytics, shape)(self.fact, self.dims, flt).collect()}
        with self.tracer.span("sql_interface"):
            t0 = time.perf_counter()
            df = sql_interface.dashboard_query(self.spark, shape, flt.date_from, flt.date_to)
            plan_s = time.perf_counter() - t0
            return {"rows": df.collect(), "plan_s": plan_s}

    def _op(self, path: str, fname: str, shape: str) -> Op:
        flt = self.filters[fname]

        def post(q):
            return {**q, "rows": [tuple(r) for r in q["rows"]]}

        return Op(f"{path}:{fname}:{shape}", lambda: self._query(path, shape, flt), post=post)

    def ops(self) -> list[Op]:
        return [self._op(*self.PAGES[i], shape)
                for i in self.ctx.rng.permutation(len(self.PAGES)) for shape in SHAPES]

    def _expected(self, shape: str, fname: str) -> list[tuple]:
        flt = self.filters[fname]
        f = self.fact_pd
        if flt.date_from:
            f = f[f.pickup_date >= pd.Timestamp(flt.date_from).date()]
        if flt.date_to:
            f = f[f.pickup_date <= pd.Timestamp(flt.date_to).date()]
        if flt.payment_descriptions:
            f = f.merge(self.pay_pd[self.pay_pd.payment_description.isin(flt.payment_descriptions)],
                        on="payment_type_id")
        if flt.boroughs or flt.zones or shape == "top_zones":
            loc = self.loc_pd
            if flt.boroughs:
                loc = loc[loc.borough.isin(flt.boroughs)]
            if flt.zones:
                loc = loc[loc.zone.isin(flt.zones)]
            f = f.merge(loc, left_on="pickup_location_id", right_on="location_id")
        if shape == "kpis":
            if f.empty:
                return [(0, None, None, None)]
            return [(len(f), f.total_amount.sum(), f.total_amount.mean(), f.trip_distance.mean())]
        if shape == "daily_trips":
            g = f.groupby("pickup_date").total_amount.agg(["size", "sum"]).sort_index()
            return [(d, int(r["size"]), r["sum"]) for d, r in g.iterrows()]
        if shape == "hourly_trips":
            g = f.pickup_time.str[:2].astype(int).value_counts().sort_index()
            return [(int(h), int(c)) for h, c in g.items()]
        if shape == "payment_breakdown":
            if "payment_description" not in f.columns:
                f = f.merge(self.pay_pd, on="payment_type_id", how="left")
            g = f.groupby("payment_description", dropna=False).total_amount.agg(["size", "sum"])
            return [(None if pd.isna(d) else d, int(r["size"]), r["sum"]) for d, r in g.iterrows()]
        g = f.groupby(["borough", "zone"]).total_amount.agg(["size", "sum"]).reset_index()
        g = g.sort_values(["size", "borough", "zone"], ascending=[False, True, True]).head(10)
        return [(b, z, int(s), r) for b, z, s, r in g.itertuples(index=False)]

    def check(self, rec: Record) -> bool:
        path, fname, shape = rec.label.split(":")
        key = (shape, fname)
        if key not in self.expected:
            self.expected[key] = self._expected(shape, fname)
        exp, rows = self.expected[key], _comparable(path, shape, rec.output["rows"])
        if shape in _UNORDERED:
            exp = sorted(exp, key=repr)
        if not _rows_match(rows, exp):
            print(f"{rec.label}: {rows[:3]} != {exp[:3]}", file=sys.stderr)
            return False
        # analytics.top_zones ranks its rows 1..k
        return not (shape == "top_zones" and path == "analytics"
                    and [r[4] for r in rec.output["rows"]] != list(range(1, len(rows) + 1)))

    def fingerprint(self, rec: Record) -> Any:
        path, _, shape = rec.label.split(":")
        return {"rows": len(rec.output["rows"]),
                "digest": _digest(_comparable(path, shape, rec.output["rows"]))}

    def layer_metrics(self, records, stats) -> dict:
        m = {}
        ok = [r for r in records if r.error is None]
        ana = [r for r in ok if r.label.startswith("analytics:")]
        sql = [r for r in ok if r.label.startswith("sql:")]
        cores = self.spark.sparkContext.defaultParallelism
        for shape in SHAPES:
            ws = [r.seconds for r in ana if r.label.endswith(f":{shape}")]
            m[f"analytics.{shape}.wall_ms"] = median(ws) * 1000 if ws else 0.0
        sts = [_stat(stats, f"analytics.{r.label.rsplit(':', 1)[1]}", r.op) for r in ana]
        if sts:
            m["analytics.jobs_per_query"] = mean(st.jobs for st in sts)
            m["analytics.tasks_per_query"] = mean(st.tasks for st in sts)
            m["analytics.input_bytes_per_query"] = mean(st.input_bytes for st in sts)
            m["analytics.wait_ms"] = median((r.seconds - st.task_s / cores) * 1000 for r, st in zip(ana, sts))
        if sql:
            m["sql_interface.plan_ms"] = median(r.output["plan_s"] for r in sql) * 1000
            m["sql_interface.wall_ms"] = median(r.seconds for r in sql) * 1000
        return m


# -------------------------------------------------- registry_headline

# The modules whose operators run in no other workload and that the
# roadmap's kernel work targets: set-verify dedup, text tokenizing, the
# Levenshtein fuzzy join and graph iteration.
HEADLINE_MODULES = ("dedup_ops", "text_ops", "fuzzy_ops", "graph_ops")


def query_module(name: str) -> str:
    return REGISTRY[name].spark_fn.__module__.rsplit(".", 1)[-1]


# Of those modules' ten headline queries, the ones that reach each
# module's engine operator: minhash_dedup (Jaccard verify) and
# containment_join_prefix (containment verify) for dedup, bfs_distances
# for graph; text and fuzzy import no operator, so the tokenizer and the
# one fuzzy query. All ten took 49 s as a driver's first pass on 4
# cores; these five take about half, which keeps a comparison of two
# commits within its time budget.
HEADLINE = ("text_token_counts", "dedup_minhash_pipeline", "dedup_containment",
            "graph_bfs_hops", "fuzzy_join_levenshtein")

# [rows, digest of the normalized rows] per query over the fixed test
# tables, recorded at the commit that added the benchmark
HEADLINE_FINGERPRINTS = {
    "dedup_containment": [56, "27689e9ab255"],
    "dedup_minhash_pipeline": [208, "260865b25507"],
    "fuzzy_join_levenshtein": [1275, "0a5ef8bc3fa7"],
    "graph_bfs_hops": [3, "f8a24d2e277c"],
    "text_token_counts": [5, "7a583437861b"],
}


class RegistryHeadline(Workload):
    """One operation is a pass over ``HEADLINE`` on the engine's sf0.001
    test tables. The tables
    are fixed; the seed decides the query order. A pass, not a query, is
    the unit: the first query of a pass pays the session's first-query
    costs, and the seed decides which."""

    name = "registry_headline"

    def setup(self) -> None:
        from tests.oracle_harness import duck_connection

        self.data = str(inputs.REGISTRY_DATA)
        self.duck = duck_connection(self.data)
        self.oracle: dict[str, pd.DataFrame] = {}

    def ops(self) -> list[Op]:
        order = [str(n) for n in self.ctx.rng.permutation(HEADLINE)]

        def run():
            out = {}
            for name in order:
                with self.tracer.span(f"benchqueries.{query_module(name)}"):
                    t0 = time.perf_counter()
                    out[name] = (REGISTRY[name].spark_fn(self.spark, self.data).toPandas(),
                                 time.perf_counter() - t0)
                # between queries, untimed work of the pass: drop what the
                # query left cached so it cannot speed up or slow the next
                _release_query_state(self.spark)
            return out

        return [Op("pass", run)]

    def check(self, rec: Record) -> bool:
        from tests.oracle_harness import compare_frames

        ok = True
        prints = self.fingerprint(rec)
        for name, (pdf, _) in rec.output.items():
            if name not in self.oracle:
                self.oracle[name] = self.duck.execute(REGISTRY[name].oracle).fetchdf()
            res = compare_frames(name, pdf, self.oracle[name])
            if not res.ok:
                print(f"{name}: {res.detail}", file=sys.stderr)
                ok = False
            if prints[name] != HEADLINE_FINGERPRINTS.get(name):
                print(f"{name}: fingerprint {prints[name]} != {HEADLINE_FINGERPRINTS.get(name)}",
                      file=sys.stderr)
                ok = False
        return ok

    def fingerprint(self, rec: Record) -> Any:
        from tests.oracle_harness import normalize

        return {name: [len(pdf), _digest(normalize(pdf)[1])] for name, (pdf, _) in rec.output.items()}

    def layer_metrics(self, records, stats) -> dict:
        ok = [r for r in records if r.error is None]
        if not ok:
            return {}
        cores = self.spark.sparkContext.defaultParallelism
        m = {}
        for mod in HEADLINE_MODULES:
            sts = [_stat(stats, f"benchqueries.{mod}", r.op) for r in ok]
            m[f"benchqueries.{mod}.wall_s"] = mean(s.wall_s for s in sts)
            m[f"benchqueries.{mod}.jobs"] = mean(s.jobs for s in sts)
            m[f"benchqueries.{mod}.task_s"] = mean(s.task_s for s in sts)
            m[f"benchqueries.{mod}.shuffle_bytes"] = mean(s.shuffle_write_bytes for s in sts)
            m[f"benchqueries.{mod}.spill_bytes"] = mean(s.spill_bytes for s in sts)
        # wait: query wall time the stages' busy cores do not account for
        busy = [sum(s.task_s for (layer, op), s in stats.items()
                    if op == r.op and layer.startswith("benchqueries.")) for r in ok]
        query_s = [sum(t for _, t in r.output.values()) for r in ok]
        m["benchqueries.wait_s"] = mean(q - b / cores for q, b in zip(query_s, busy))
        m["benchqueries.geomean_s"] = math.exp(mean(math.log(t) for r in ok for _, t in r.output.values()))
        return m


def _release_query_state(spark) -> None:
    """Drop temp views and persisted blocks a query left behind, so one
    query's cached state cannot speed up or slow down the next."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (MonthJob, Dashboard, RegistryHeadline)
}
