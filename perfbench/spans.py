"""Spans around engine calls, and the Spark metrics of each span.

A traced span tags every Spark job it starts with its own job group.
After the run, `SparkReport` reads the jobs, stages and SQL plan nodes
of each group from Spark's local REST API, so the numbers are Spark's
own task and plan-node metrics, not probes inside the program.  With
tracing off a span only keeps its wall time.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
ROWS = "number of output rows"


@dataclass
class Span:
    name: str
    kind: str  # "setup", "op", "check", "probe", or "join" (a joins-probe pass)
    group: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; `on` decides whether jobs are tagged."""

    def __init__(self, spark, on: bool):
        self.spark = spark
        self.on = on
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str = "op"):
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.spans)}" if self.on else None
        if group:
            sc.setJobGroup(group, name)
        s = Span(name, kind, group, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)


# ---------------------------------------------------------------------------
# Spark REST API
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}


def metric_value(text: str) -> float:
    """A SQL node metric as shown by Spark ('1,000,000', '85.3 MiB',
    '678 ms', or a 'total (min, med, max ...)' block) in base units:
    seconds, bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS[parts[1]] if len(parts) > 1 else num


def _node_metric(node: dict, name: str) -> float:
    return sum(metric_value(m["value"]) for m in node["metrics"] if m["name"] == name)


def _tree(execution: dict) -> tuple[dict, dict]:
    """(children ids by node id, node by id) of one SQL execution's plan."""
    children: dict = {}
    for edge in execution["edges"]:
        children.setdefault(edge["toId"], []).append(edge["fromId"])
    return children, {n["nodeId"]: n for n in execution["nodes"]}


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, covered = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, covered), min(b, hi)
        if b > a:
            total += b - a
            covered = b
    return total


@dataclass
class SpanMetrics:
    """Spark's view of one span: its jobs, stages and plan nodes."""

    span: Span
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    executions: list = field(default_factory=list)
    jobs_s: float = 0.0

    def stage_sum(self, key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in self.stages))

    def nodes(self):
        """(execution, node) pairs of every SQL plan node in the span."""
        for e in self.executions:
            for n in e["nodes"]:
                yield e, n

    def node_sum(self, metric: str, node_pred=lambda name: True) -> float:
        return sum(_node_metric(n, metric) for _, n in self.nodes() if node_pred(n["nodeName"]))

    def python_nodes(self):
        for e, n in self.nodes():
            if any(m["name"] == PY_RUN for m in n["metrics"]):
                yield e, n

    def child_rows(self, execution, node_id: int) -> float:
        """Output rows of the nearest node below `node_id` that counts rows."""
        children, by_id = _tree(execution)
        todo = list(children.get(node_id, []))
        total = 0.0
        while todo:
            n = by_id[todo.pop()]
            rows = [m for m in n["metrics"] if m["name"] == ROWS]
            if rows:
                total += metric_value(rows[0]["value"])
            else:
                todo.extend(children.get(n["nodeId"], []))
        return total

    def extraction(self) -> dict:
        """The plan below each Python node that reads parquet (the
        engine's JVM-side extraction in front of its kernel): rows the
        scans read, rows handed to the Python node, and the duration
        Spark records for its whole-stage-codegen clusters (parquet
        decode, prefilter and regex), summed over tasks; that duration
        overlaps the Python worker's run, so it can exceed the task time."""
        out = {"rows_in": 0.0, "points_out": 0.0, "scan_s": 0.0}
        for e, n in self.python_nodes():
            children, by_id = _tree(e)
            below, todo = [], list(children.get(n["nodeId"], []))
            while todo:
                below.append(by_id[todo.pop()])
                todo.extend(children.get(below[-1]["nodeId"], []))
            scans = [m for m in below if m["nodeName"].startswith("Scan parquet")]
            if not scans:
                continue
            clusters = {f"WholeStageCodegen ({m['wholeStageCodegenId']})" for m in below if "wholeStageCodegenId" in m}
            out["rows_in"] += sum(_node_metric(m, ROWS) for m in scans)
            out["scan_s"] += sum(_node_metric(m, "duration") for m in e["nodes"] if m["nodeName"] in clusters)
            out["points_out"] += self.child_rows(e, n["nodeId"])
        return out

    def python_stage(self) -> int | None:
        """Stage of the slowest task of the first Python node, from the
        '(stage N.A: task T)' note Spark prints beside a node metric."""
        for _, n in self.python_nodes():
            for m in n["metrics"]:
                hit = re.search(r"\(stage (\d+)\.\d+: task \d+\)", m["value"]) if m["name"] == PY_RUN else None
                if hit:
                    return int(hit.group(1))
        return None

    def python(self) -> dict:
        out = dict.fromkeys(("run_s", "boot_s", "init_s", "bytes_in", "bytes_out", "rows_in", "rows_out"), 0.0)
        names = {PY_RUN: "run_s", PY_BOOT: "boot_s", PY_INIT: "init_s", PY_SENT: "bytes_in", PY_BACK: "bytes_out", ROWS: "rows_out"}
        for e, n in self.python_nodes():
            for m in n["metrics"]:
                if m["name"] in names:
                    out[names[m["name"]]] += metric_value(m["value"])
            out["rows_in"] += self.child_rows(e, n["nodeId"])
        return out

    def spark(self) -> dict:
        return {
            "jobs": float(len(self.jobs)),
            "stages": float(len(self.stages)),
            "tasks": self.stage_sum("numCompleteTasks"),
            "jobs_s": self.jobs_s,
            "driver_s": max(self.span.wall - self.jobs_s, 0.0),
            "executor_run_s": self.stage_sum("executorRunTime") / 1e3,
            "executor_cpu_s": self.stage_sum("executorCpuTime") / 1e9,
            "gc_s": self.stage_sum("jvmGcTime") / 1e3,
        }


class SparkReport:
    """Reads the REST API of the running application once, and answers
    per-span questions from that snapshot."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        self.sql = self._get("/sql?details=true&length=100000")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, spans) -> bool:
        """True once every job of the spans has reached a final state in
        the UI store (it is filled asynchronously by a listener)."""
        groups = {s.group for s in spans if s.group}
        return all(j["status"] in ("SUCCEEDED", "FAILED") for j in self.jobs if j.get("jobGroup") in groups)

    def for_span(self, span: Span) -> SpanMetrics:
        sm = SpanMetrics(span)
        sm.jobs = [j for j in self.jobs if span.group and j.get("jobGroup") == span.group]
        ids = {j["jobId"] for j in sm.jobs}
        stage_ids = {sid for j in sm.jobs for sid in j["stageIds"]}
        sm.stages = [
            s for (sid, _), s in self.stages.items() if sid in stage_ids and s["status"] == "COMPLETE"
        ]
        sm.executions = [
            e for e in self.sql
            if set(e.get("successJobIds", []) + e.get("failedJobIds", [])) & ids
        ]
        intervals = []
        for j in sm.jobs:
            a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((a, b))
        sm.jobs_s = _union_seconds(intervals, span.start, span.end)
        return sm

    def task_skew(self, stage_id: int) -> float:
        """max / median task run time of one stage."""
        attempt = max(a for (sid, a) in self.stages if sid == stage_id)
        q = self._get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] else 1.0


def read_report(spark, spans, timeout: float = 20.0) -> SparkReport:
    """A report taken once the listener has caught up with the spans."""
    deadline = time.time() + timeout
    while True:
        rep = SparkReport(spark)
        if rep.settled(spans) or time.time() > deadline:
            return rep
        time.sleep(0.2)
