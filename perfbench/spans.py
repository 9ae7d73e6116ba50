"""Per-layer spans for the benchmark's traced runs.

A span is set around each public engine call the benchmark makes (or,
for calls made inside ``pipeline.run_month``, around the module
function the pipeline calls, patched for the traced run only). Entering
a span sets the Spark job group ``<layer>|<op>``; the group is left in
place when the call returns, because most engine calls only build a
lazy DataFrame whose jobs run at the next action. A layer therefore
owns the jobs started from its call until the next traced call.

Spans stay in memory. After the measured window the Spark UI's REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) is read once and
stage metrics are rolled up per job group.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    op: str
    start: float
    end: float


def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class LayerStats:
    """What one (layer, op) job group did, from spans and stage metrics."""

    intervals: list[tuple[float, float]] = field(default_factory=list)
    span_s: float = 0.0  # driver-side time inside the layer's calls
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return union_length(self.intervals)


class Tracer:
    """Spans + job groups when ``enabled``; every method is a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.op = "setup"
        self.spans: list[Span] = []

    def set_op(self, op: str) -> None:
        self.op = op

    def group(self, layer: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"{layer}|{self.op}", layer)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self.group(layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, self.op, t0, time.time()))

    def patch(self, module, name: str, layer: str) -> None:
        """Trace every call of ``module.name`` as a ``layer`` span."""
        if not self.enabled:
            return
        fn = getattr(module, name)

        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        setattr(module, name, traced)

    # -------------------------------------------------------- rollup

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def collect(self) -> dict[tuple[str, str], LayerStats]:
        """Stats per (layer, op) for every span and job group seen."""
        out: dict[tuple[str, str], LayerStats] = defaultdict(LayerStats)
        for s in self.spans:
            out[(s.layer, s.op)].intervals.append((s.start, s.end))
            out[(s.layer, s.op)].span_s += s.end - s.start
        # the listener bus updates the status store asynchronously
        for _ in range(50):
            jobs = self._rest("jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stages: dict[int, list[dict]] = defaultdict(list)
        for s in self._rest("stages"):
            stages[s["stageId"]].append(s)
        seen: set[int] = set()  # a stage reused by a later job counts once
        for j in jobs:
            gid = j.get("jobGroup") or ""
            if "|" not in gid:
                continue
            layer, op = gid.split("|", 1)
            st = out[(layer, op)]
            t0, t1 = _parse_ts(j.get("submissionTime")), _parse_ts(j.get("completionTime"))
            if t0 is not None and t1 is not None:
                st.intervals.append((t0, t1))
            st.jobs += 1
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for sm in stages.get(sid, ()):
                    if sm["status"] == "SKIPPED":
                        continue
                    st.tasks += sm["numTasks"]
                    st.task_s += sm["executorRunTime"] / 1000.0
                    st.gc_s += sm["jvmGcTime"] / 1000.0
                    st.input_bytes += sm["inputBytes"]
                    st.input_records += sm["inputRecords"]
                    st.output_bytes += sm["outputBytes"]
                    st.shuffle_read_bytes += sm["shuffleReadBytes"]
                    st.shuffle_write_bytes += sm["shuffleWriteBytes"]
                    st.spill_bytes += sm["memoryBytesSpilled"] + sm["diskBytesSpilled"]
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]
