"""SparkSession helpers — one place for engine-relevant configs.

Scale posture (SURVEY.md §4.2, BASELINE scaling rule): AQE on
(runtime re-plan + skew-join), Arrow batches for every pandas UDF
stage, shuffle partitions sized for the local harness but overridable
for cluster runs via SPARK_GRAFT_* env vars.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def build_session(
    app: str = "geospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured sweep at 32-way (round 6, flagship at 16M pages; the
        # flagship's layers are now profiled by
        # `perfbench/run.py --workload bulk_pip_tile --trace 1`):
        # 16384→1.18M, 65536→1.94M, 262144→2.43M, 524288→2.26M pages/s —
        # one Arrow batch per ~128k-row task partition minimizes the
        # per-batch JVM↔python round-trip overhead that capped scaling
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "262144"),
        )
        # Spark 4 defaults spark.sql.execution.arrow.maxBytesPerBatch to
        # 64MB, and any finite value makes BatchedPythonArrowInput call
        # arrowWriter.sizeInBytes() PER ROW while feeding python workers
        # (underBatchSizeLimit, PythonArrowInput.scala) — measured ~7µs/row
        # of pure JVM overhead: a consume-only mapInPandas over 112M
        # 24-byte rows cost 34.5s vs 12.8s with the Int.MaxValue sentinel,
        # which short-circuits the check.  Batch memory stays bounded by
        # maxRecordsPerBatch above (262144 rows), which is the right cap
        # for this engine's python stages: every kernel input is either
        # narrow numerics (flagship/joins/knn) or documents whose row
        # width the corpus bounds.  Deployments feeding multi-MB rows to
        # python stages should restore a finite cap via this env knob.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", "2147483647"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # saveAsTable targets (bucketed tables, ops/bucketing.py) must
        # never land in the launch cwd; uid-scoped so two users on one
        # host don't collide on a sticky-bit /tmp directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(),
                    f"geospark_warehouse_{getattr(os, 'getuid', lambda: 0)()}",
                ),
            ),
        )
    )
    return b.getOrCreate()
