"""The benchmark's own self-test, at a tiny input size.

    python3 perfbench/run.py --selftest

Checks that
  * the load generator reproduces geospark.io.pages.generate_pages and
    generate_districts row for row;
  * the output checks catch a corrupted result: a join answer with one
    row dropped, and a lookup answer with one wrong neighbour;
  * every workload, untraced and traced, exits cleanly and prints every
    metric BENCHMARK.json names, with its unit, and no other;
  * BENCHMARK.json names the workloads and metrics this code emits.
Prints one line per check and exits 1 if any failed.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np

SEED = 11
PAGES = 20_000
DISTRICTS = 200

_failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        _failures.append(what)


def check_generator(spark, work: str) -> None:
    import gen
    import pyarrow.parquet as pq

    from geospark.io.pages import generate_districts, generate_pages

    ref = generate_pages(spark, 3000, seed=SEED).toPandas().sort_values("page_id").reset_index(drop=True)
    got = gen.build_pages(np.arange(3000, dtype=np.int64), SEED).to_pandas()
    same = all(
        list(ref[c]) == list(got[c]) for c in ("url", "html", "text", "lang", "page_id")
    )
    expect(same, "generated pages equal generate_pages (url, html, text, lang, page_id)")

    ref = generate_districts(spark, 60).toPandas()
    path, _, _ = gen.districts_parquet(work, 43, 60)
    got = pq.read_table(path).to_pandas()
    same = all(list(ref[c]) == list(got[c]) for c in ("poly_id", "name", "geom", "srid"))
    expect(same, "generated districts equal generate_districts")


def check_corruption(spark, work: str) -> None:
    import spans
    from pyspark.sql import functions as F
    from run import prepare
    from workloads import BulkPipTile, PointLookup, check_join

    b, _ = prepare("bulk_pip_tile", SEED, PAGES, DISTRICTS, work, trace=True)
    b.spark = spark
    b.tracer = spans.Tracer(spark, False)

    bulk = BulkPipTile(b)
    expect(bulk.setup(), "bulk_pip_tile warm-up count equals the brute force")
    expect(bulk.check() == (1, 0), "bulk_pip_tile full output equals the brute force")
    first = bulk.flagship().limit(1).collect()[0]
    dropped = bulk.flagship().where(
        (F.col("page_id") != first["page_id"]) | (F.col("poly_id") != first["poly_id"])
    )
    expect(check_join(bulk, dropped) == (1, 1), "a join answer with one row dropped is caught")

    look = PointLookup(b)
    expect(look.setup(), "point_lookup warm-up runs")
    for _ in range(2):
        look.op()
    expect(look.check() == (0, 0), "point_lookup answers equal the brute force")
    query, got = next((q, g) for q, g in look.answers if g)
    stranger = int(next(v for v in b.points[0] if v not in got))
    look.answers = [(query, got[:-1] + [stranger])]
    expect(look.check() == (0, 1), "a lookup answer with one wrong neighbour is caught")


def check_runs(root: str) -> None:
    import layers
    from run import END_TO_END
    from workloads import WORKLOADS

    script = os.path.join(root, "perfbench", "run.py")
    for name in WORKLOADS:
        for trace, spec in ((0, END_TO_END), (1, layers.PER_LAYER)):
            cmd = [sys.executable, script, "--workload", name, "--seed", str(SEED), "--seconds", "1",
                   "--trace", str(trace), "--pages", str(PAGES), "--districts", str(DISTRICTS)]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
            what = f"{name} --trace {trace}"
            if p.returncode != 0:
                expect(False, f"{what} exits 0 (stderr tail: {p.stderr[-500:]!r})")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            expect(sorted(out) == ["attempted", "correct", "failed", "metrics"], f"{what} prints the result keys")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, f"{what} is correct")
            units = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(units == dict(spec), f"{what} emits every metric with its unit")
            values = [v["value"] for v in out["metrics"].values()]
            finite = all(isinstance(v, float) and math.isfinite(v) for v in values)
            expect(finite and (trace or all(v > 0 for v in values)), f"{what} values are finite (and > 0 end to end)")


def check_benchmark_json(root: str) -> None:
    import layers
    from run import END_TO_END
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS), "BENCHMARK.json workloads match")
    expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END, "BENCHMARK.json end_to_end matches")
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER, "BENCHMARK.json per_layer matches")


def main(work: str) -> int:
    import host
    from pyspark import SparkContext
    from run import ROOT, configure

    from geospark.session import build_session

    work = os.path.join(work, "selftest")
    configure(work, len(os.sched_getaffinity(0)))
    spark = build_session("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        check_generator(spark, work)
        check_corruption(spark, work)
    finally:
        spark.stop()
        host.shutdown_jvm(SparkContext)
    check_benchmark_json(ROOT)
    check_runs(ROOT)
    print(f"selftest: {len(_failures)} failed", flush=True)
    return 1 if _failures else 0
