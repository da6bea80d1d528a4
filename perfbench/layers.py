"""Per-layer metrics of a traced run.

Spark-side layers (session, Python boundary, extract, ops.knn) come
from the Spark metrics of the run's own spans, as the median over its
timed operations; extract is the plan the flagship runs in front of its
kernel.  The numpy layers (cells, geom, ops.flagship's index) are timed
by calling their public functions directly on the driver over the
run's inputs.  geom.pip_tests and geom.hit_ratio are therefore the
candidate pairs of the public build_cell_index replayed here, not
counts taken inside the engine's kernel: a kernel that skips some of
those pairs leaves them unchanged and shows in python.run_s instead.

Two layers no timed workload reaches are profiled by probes after the
timed loop: ops.joins by forced-shuffle pip_join passes over the
persisted page points (point_lookup's traced run), and run.pipeline by
one fresh and one resumed `geospark.run.cli` flagship run over the
run's pages (bulk_pip_tile's traced run).  A layer a run neither
crosses nor probes reads 0.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import pickle
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from geospark.cells.cellid import DEFAULT_GRID
from geospark.cells.coverage import cover_geometry
from geospark.geom import core as gc
from geospark.geom import predicates as gpred
from geospark.ops.flagship import build_cell_index
from geospark.ops.joins import choose_level, pip_join

import oracle
import spans as tr
from workloads import TILE_LEVEL

PER_LAYER = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.jobs_s", "s"),
    ("spark.driver_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.peak_rss_mb", "MB"),
    ("python.run_s", "s"),
    ("python.boot_s", "s"),
    ("python.init_s", "s"),
    ("python.bytes_in", "bytes"),
    ("python.bytes_out", "bytes"),
    ("python.rows_in", "count"),
    ("python.rows_out", "count"),
    ("extract.rows_in", "count"),
    ("extract.points_out", "count"),
    ("extract.scan_s", "s"),
    ("cells.cover_s", "s"),
    ("cells.encode_s_per_m", "s"),
    ("cells.candidates_per_point", "count"),
    ("geom.pip_tests", "count"),
    ("geom.locate_s", "s"),
    ("geom.hit_ratio", "ratio"),
    ("flagship.index_build_s", "s"),
    ("flagship.index_cells", "count"),
    ("flagship.index_entries", "count"),
    ("flagship.broadcast_bytes", "bytes"),
    ("joins.choose_level_s", "s"),
    ("joins.candidate_rows", "count"),
    ("joins.hit_ratio", "ratio"),
    ("joins.shuffle_write_bytes", "bytes"),
    ("joins.shuffle_read_bytes", "bytes"),
    ("joins.spill_bytes", "bytes"),
    ("joins.task_skew", "ratio"),
    ("joins.pass_s", "s"),
    ("knn.build_rows_scanned", "count"),
    ("knn.probe_cells", "count"),
    ("knn.candidates", "count"),
    ("knn.jobs", "count"),
    ("pipeline.commit_s", "s"),
    ("pipeline.resume_s", "s"),
    ("pipeline.stage_s.pages", "s"),
    ("pipeline.stage_s.districts", "s"),
    ("pipeline.stage_s.join", "s"),
    ("pipeline.stage_s.tile_counts", "s"),
    ("pipeline.bytes_written", "bytes"),
    ("pipeline.write_amp", "ratio"),
    ("pipeline.jobs", "count"),
    ("pipeline.extra_jobs", "count"),
]
UNITS = dict(PER_LAYER)
PIPELINE_STAGES = ("pages", "districts", "join", "tile_counts")


def median(values) -> float:
    """Median, or 0 for a layer the run did not cross."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _is_join(name: str) -> bool:
    return "Join" in name


def _parent_rows(sm, child_name: str) -> float:
    """Output rows of the node directly above each `child_name` node."""
    total = 0.0
    for e in sm.executions:
        by_id = {n["nodeId"]: n for n in e["nodes"]}
        parent = {edge["fromId"]: edge["toId"] for edge in e["edges"]}
        for n in e["nodes"]:
            if n["nodeName"] == child_name and n["nodeId"] in parent:
                up = by_id[parent[n["nodeId"]]]
                total += sum(tr.metric_value(m["value"]) for m in up["metrics"] if m["name"] == tr.ROWS)
    return total


def spark_layers(report, spans, knn_requests: int) -> dict:
    """Layers read from the Spark metrics of the run's spans;
    `knn_requests` is the number of knn_join requests in one operation
    (0 when the workload sends none)."""
    ops = [report.for_span(s) for s in spans if s.kind == "op"]
    out = {}
    for k in ("jobs", "stages", "tasks", "jobs_s", "driver_s", "executor_run_s", "executor_cpu_s", "gc_s"):
        out[f"spark.{k}"] = median(sm.spark()[k] for sm in ops)
    py = [sm.python() for sm in ops]
    for k in ("run_s", "init_s", "bytes_in", "bytes_out", "rows_in", "rows_out"):
        out[f"python.{k}"] = median(p[k] for p in py)
    # workers start once per run (then they are reused): count every
    # span of the workload itself
    out["python.boot_s"] = sum(
        report.for_span(s).python()["boot_s"] for s in spans if s.kind in ("setup", "op")
    )

    ex = [sm.extraction() for sm in ops]
    for k in ("rows_in", "points_out", "scan_s"):
        out[f"extract.{k}"] = median(x[k] for x in ex)
    (level,) = [s for s in spans if s.name == "probe.level"]
    out["joins.choose_level_s"] = level.wall

    passes = [report.for_span(s) for s in spans if s.kind == "join"]
    joins = []
    for sm in passes:
        cand = sm.node_sum(tr.ROWS, _is_join)
        stage = sm.python_stage()
        joins.append({
            "candidate_rows": cand,
            "hit_ratio": sm.python()["rows_out"] / cand if cand else 0.0,
            "shuffle_write_bytes": sm.stage_sum("shuffleWriteBytes"),
            "shuffle_read_bytes": sm.stage_sum("shuffleReadBytes"),
            "spill_bytes": sm.stage_sum("memoryBytesSpilled") + sm.stage_sum("diskBytesSpilled"),
            "task_skew": report.task_skew(stage) if stage is not None else 0.0,
            "pass_s": sm.span.wall,
        })
    for k in ("candidate_rows", "hit_ratio", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "task_skew", "pass_s"):
        out[f"joins.{k}"] = median(j[k] for j in joins)

    knn = ops if knn_requests else []
    per = max(knn_requests, 1)
    out["knn.build_rows_scanned"] = median(sm.node_sum(tr.ROWS, lambda n: n == "InMemoryTableScan") / per for sm in knn)
    out["knn.probe_cells"] = median(_parent_rows(sm, "Generate") / per for sm in knn)
    out["knn.candidates"] = median(sm.node_sum(tr.ROWS, _is_join) / per for sm in knn)
    out["knn.jobs"] = median(len(sm.jobs) / per for sm in knn)
    return out


def level_probe(b) -> int:
    """The cell-level choice on a fresh districts DataFrame (the engine
    memoises it per DataFrame), as a traced span after the timed loop."""
    with b.tracer.span("probe.level", "probe"):
        return choose_level(b.spark.read.parquet(b.districts_dir), "geom", DEFAULT_GRID)


def joins_probe(b, points, level: int, passes: int = 2) -> tuple[int, int, dict]:
    """ops.joins.pip_join with broadcast=False over persisted page points
    and the districts: a warm-up pass, `passes` traced passes ending in
    count(), then the full output checked against the brute force.
    Returns (operations attempted, failed, details)."""
    districts = b.spark.read.parquet(b.districts_dir).persist()

    def join():
        return pip_join(points, districts, point_id="page_id", level=level,
                        broadcast=False, tile_level=TILE_LEVEL)

    with b.tracer.span("probe.join.warmup", "probe"):
        counts = [join().count()]
    for k in range(passes):
        with b.tracer.span(f"probe.join{k}", "join"):
            counts.append(join().count())
    with b.tracer.span("probe.join.check", "probe"):
        got = join().select("point_id", "poly_id", "cell_id").toPandas()
    bad = oracle.join_mismatch(b.expected, got["point_id"], got["poly_id"], got["cell_id"])
    failed = sum(n != b.expected.rows for n in counts) + int(bad > 0)
    districts.unpersist()
    return len(counts) + 1, failed, {"counts": counts, "mismatched_rows": bad}


def numpy_layers(b, level: int) -> tuple[dict, dict]:
    """cells, geom and the flagship index, timed on the driver over the
    run's districts and page points."""
    rows = b.district_rows
    geoms = [gc.from_wkb(w) for _, w in rows]
    t0 = time.perf_counter()
    for g in geoms:
        cover_geometry(g, DEFAULT_GRID, level)
    cover_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    idx = build_cell_index(rows, DEFAULT_GRID, level)
    index_s = time.perf_counter() - t0

    _, x, y = b.points
    enc = []
    for _ in range(5):
        t0 = time.perf_counter()
        pcells = DEFAULT_GRID.encode_points(x, y, level)
        enc.append(time.perf_counter() - t0)

    keys, starts, members = idx["cell_keys"], idx["starts"], idx["members"]
    pos = np.minimum(np.searchsorted(keys, pcells), len(keys) - 1)
    valid = keys[pos] == pcells
    cnt = np.where(valid, starts[pos + 1] - starts[pos], 0)
    tests = int(cnt.sum())
    # every (point, polygon) candidate pair, grouped by polygon
    point = np.repeat(np.arange(len(x)), cnt)
    first = np.repeat(starts[pos] - (np.cumsum(cnt) - cnt), cnt)
    poly = members[first + np.arange(tests)]
    order = np.argsort(poly, kind="stable")
    poly, point = poly[order], point[order]
    bounds = np.flatnonzero(np.r_[True, poly[1:] != poly[:-1], True])
    locate_s, hits = 0.0, 0
    for s, e in zip(bounds[:-1], bounds[1:]):
        pp = gpred.PreparedPolygon(geoms[poly[s]])
        sel = point[s:e]
        t0 = time.perf_counter()
        loc = pp.locate_batch(x[sel], y[sel])
        locate_s += time.perf_counter() - t0
        hits += int((loc != gpred.EXTERIOR).sum())

    layers = {
        "cells.cover_s": cover_s,
        "cells.encode_s_per_m": median(enc) / (len(x) / 1e6),
        "cells.candidates_per_point": tests / len(x),
        "geom.pip_tests": float(tests),
        "geom.locate_s": locate_s,
        "geom.hit_ratio": hits / tests if tests else 0.0,
        "flagship.index_build_s": index_s,
        "flagship.index_cells": float(len(keys)),
        "flagship.index_entries": float(len(members)),
        "flagship.broadcast_bytes": float(len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL))),
    }
    return layers, {"level": level, "replayed_hits": hits}


class _JobPoller:
    """Collects the ids of the jobs one job group runs, by polling the
    status tracker until the session is stopped under it."""

    def __init__(self, sc, group: str):
        self.tracker = sc.statusTracker()
        self.group = group
        self.ids: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            try:
                self.ids.update(self.tracker.getJobIdsForGroup(self.group))
            except Exception:  # the session was stopped
                return
            self._stop.wait(0.01)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def pipeline_layers(b, build_session) -> tuple[dict, int, int, dict]:
    """One fresh and one resumed flagship run of geospark.run.cli over
    the run's pages into a new catalog.  Returns (layers, attempted,
    failed, info).  Both calls stop the session they run in."""
    from geospark.run import cli

    out_dir = os.path.join(b.work_dir, "catalog")
    shutil.rmtree(out_dir, ignore_errors=True)
    argv = ["--pages", b.pages_dir, "--out", out_dir, "--run-id", "perfbench",
            "--districts-n", str(b.n_districts), "--tile-level", str(TILE_LEVEL)]
    walls, logs, jobs = [], [], set()
    for _ in ("fresh", "resume"):
        spark = build_session()
        spark.sparkContext.setJobGroup("perfbench-pipeline", "run.cli flagship")
        log = io.StringIO()
        with _JobPoller(spark.sparkContext, "perfbench-pipeline") as poll, contextlib.redirect_stdout(log):
            t0 = time.perf_counter()
            cli.main(argv)
            walls.append(time.perf_counter() - t0)
        if not jobs:
            jobs = set(poll.ids)
        logs.append(log.getvalue())

    manifests = {}
    for st in PIPELINE_STAGES:
        (m,) = glob.glob(os.path.join(out_dir, f"perfbench__{st}", "_manifests", "*.json"))
        with open(m) as f:
            manifests[st] = json.load(f)
    lineage = pq.read_table(os.path.join(out_dir, "_lineage")).to_pandas()
    stage_ms = lineage.groupby("stage")["wall_ms"].first()
    written = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs
    )
    input_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(b.pages_dir, "*.parquet")))
    layers = {
        "pipeline.commit_s": walls[0],
        "pipeline.resume_s": walls[1],
        **{f"pipeline.stage_s.{st}": float(stage_ms[st]) / 1e3 for st in PIPELINE_STAGES},
        "pipeline.bytes_written": float(written),
        "pipeline.write_amp": written / input_bytes,
        "pipeline.jobs": float(len(jobs)),
        "pipeline.extra_jobs": float(len(jobs) - len(PIPELINE_STAGES)),
    }

    tiles = len(np.unique(b.expected.cell_id))
    done = [line for line in logs[0].splitlines() + logs[1].splitlines() if line.startswith("done:")]
    skipped = sum(f"skipping committed stage {st} " in logs[1] for st in PIPELINE_STAGES)
    fresh_ok = manifests["join"]["rows"] == b.expected.rows and manifests["tile_counts"]["rows"] == tiles
    resume_ok = skipped == len(PIPELINE_STAGES) and len(done) == 2 and done[0] == done[1]
    info = {"join_rows": manifests["join"]["rows"], "tiles": manifests["tile_counts"]["rows"],
            "resume_skipped_stages": skipped, "done": done}
    return layers, 2, int(not fresh_ok) + int(not resume_ok), info
