"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload bulk_pip_tile --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root.  The pages and districts are generated
from the seed (cached under .perfbench_work/), the engine is started
with geospark.session.build_session at local[<cpus>], the workload's
set-up is timed, its operations run for --seconds, and every output is
checked against a brute-force answer.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1.  The line before it holds the run's details (input and
set-up timings, per-operation times, control rows, output hashes).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

N_PAGES = 500_000
N_DISTRICTS = 2000
DISTRICTS_SEED = 43  # generate_districts' default, which run.cli uses too
# operations timed at the least, however slow the host: the median of
# fewer jumps between neighbouring operations
MIN_OPS = 5

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "items/s"),
    ("op_cpu_s", "s"),
]


def configure(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`,
    and size the engine to the host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # Python workers import geospark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files in /tmp: neither from the launcher JVM
    # spark-submit starts first nor from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"


def tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    s = sorted(values)
    p = (100 * (n - 10)) // n
    return {"percentile": p, "value": s[max((p * n + 99) // 100 - 1, 0)], "samples": n}


def prepare(name: str, seed: int, n_pages: int, n_districts: int, work: str, trace: bool):
    """Generated inputs and brute-force answers (none of it timed)."""
    import gen
    import oracle
    import pyarrow.parquet as pq
    from geospark.cells.cellid import DEFAULT_GRID
    from workloads import TILE_LEVEL

    b = SimpleNamespace(seed=seed, n_pages=n_pages, n_districts=n_districts, work_dir=work, expected=None)
    info = {}
    b.pages_dir, info["gen_s"], info["gen_cache_hit"] = gen.pages_parquet(work, seed, n_pages)
    b.districts_dir, _, _ = gen.districts_parquet(work, DISTRICTS_SEED, n_districts)
    t = pq.read_table(b.districts_dir, columns=["poly_id", "geom"])
    b.district_rows = list(zip(t["poly_id"].to_pylist(), t["geom"].to_pylist()))
    t0 = time.perf_counter()
    b.points = oracle.page_points(b.pages_dir)
    if name == "bulk_pip_tile" or trace:
        b.expected = oracle.pip_join(*b.points, b.district_rows, TILE_LEVEL, DEFAULT_GRID)
        info["expected_rows"] = b.expected.rows
        info["expected_hash"] = f"{b.expected.digest:016x}"
    info["oracle_s"] = time.perf_counter() - t0
    return b, info


def run(name: str, seed: int, seconds: float, trace: bool, n_pages: int, n_districts: int, work: str):
    t_run = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    configure(work, cpus)
    import host
    import layers
    import spans
    from pyspark import SparkContext
    from workloads import WORKLOADS

    from geospark.session import build_session

    info = {"workload": name, "seed": seed, "pages": n_pages, "districts": n_districts,
            "cpus": cpus, "trace": trace}
    info["controls_pre"] = host.controls(cpus)
    b, prep = prepare(name, seed, n_pages, n_districts, work, trace)
    info.update(prep)
    w = WORKLOADS[name](b)

    def session():
        return build_session(f"perfbench-{name}")

    try:
        t0 = time.perf_counter()
        b.spark = session()
        b.spark.sparkContext.setLogLevel("ERROR")
        b.tracer = spans.Tracer(b.spark, trace)
        attempted, failed = 1, 0
        if not w.setup():
            failed += 1
        setup_s = time.perf_counter() - t0
        info["setup_spans"] = {s.name: s.wall for s in b.tracer.spans}

        op_times, op_cpu = [], []
        jvm = host.jvm_pid(b.spark)
        steal0 = host.steal_seconds()
        with host.PeakRss(jvm) as rss:
            t_loop = time.perf_counter()
            while len(op_times) < MIN_OPS or time.perf_counter() - t_loop < seconds:
                ok = False
                pids = host.tree(jvm) + [os.getpid()]
                c0 = host.cpu_seconds(pids)
                t_op = time.perf_counter()
                try:
                    with b.tracer.span(f"op{len(op_times)}"):
                        ok = w.op()
                except Exception:
                    traceback.print_exc()
                op_times.append(time.perf_counter() - t_op)
                op_cpu.append(host.cpu_seconds(pids) - c0)
                attempted += 1
                failed += not ok
            loop_s = time.perf_counter() - t_loop
        info["steal_share"] = (host.steal_seconds() - steal0) / (loop_s * cpus)
        info["rss_mb"] = {"peak": rss.peak / 2**20, "median": statistics.median(rss.samples or [0]) / 2**20}

        try:
            extra, bad = w.check()
        except Exception:
            traceback.print_exc()
            extra, bad = 1, 1
        attempted += extra
        failed += bad

        p50 = statistics.median(op_times)
        items = w.items_per_s(op_times, loop_s)
        e2e = {"setup_s": setup_s, "op_p50_s": p50, "items_per_s": items, "op_cpu_s": statistics.median(op_cpu)}
        info.update({"op_times": op_times, "op_cpu": op_cpu, "op_tail": tail(op_times),
                     "check": w.info, "end_to_end": e2e})

        metrics = e2e
        units = dict(END_TO_END)
        if trace:
            level = layers.level_probe(b)
            if name == "point_lookup":
                extra, bad, info["joins_probe"] = layers.joins_probe(b, w.points, level)
                attempted += extra
                failed += bad
            report = spans.read_report(b.spark, b.tracer.spans)
            metrics = layers.spark_layers(report, b.tracer.spans, knn_requests=w.per_op)
            metrics["spark.peak_rss_mb"] = rss.peak / 2**20
            numpy_layers, info["replay"] = layers.numpy_layers(b, level)
            metrics.update(numpy_layers)
            info["accounting"] = {
                "op_wall_s": p50,
                "driver_s": metrics["spark.driver_s"],
                "jobs_s": metrics["spark.jobs_s"],
                "python_run_s_per_core": metrics["python.run_s"] / cpus,
            }
            metrics.update({k: 0.0 for k, _ in layers.PER_LAYER if k.startswith("pipeline.")})
            if name == "bulk_pip_tile":
                pipeline, extra, bad, info["pipeline"] = layers.pipeline_layers(b, session)
                metrics.update(pipeline)
                attempted += extra
                failed += bad
            units = layers.UNITS
    finally:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        host.shutdown_jvm(SparkContext)
    info["controls_post"] = host.controls(cpus)
    info["run_s"] = time.perf_counter() - t_run
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=N_PAGES)
    ap.add_argument("--districts", type=int, default=N_DISTRICTS)
    ap.add_argument("--selftest", action="store_true", help="check the benchmark itself at a tiny size")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import geospark  # noqa: F401
        import bench_extra  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.selftest:
        import selftest

        return selftest.main(WORK)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result, info = run(args.workload, args.seed, args.seconds, bool(args.trace),
                       args.pages, args.districts, WORK)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
