"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  → flagship pipeline on /root/testdata/sf0.001:
  synthetic CC-style pages → vectorized geocode → cell-join PIP vs
  districts → Z-order tile assignment.
queries()     → operator surface (SURVEY.md §2 + training-data ops);
oracle_sql()  → DuckDB equivalents (omitted only for genuinely
  non-SQL-expressible geometric/approximate ops → rows-only check).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

_shipped = set()


def _ensure_workers(spark: SparkSession) -> None:
    """Make `geospark` importable in executor python workers even when
    the driver was launched from another cwd: ship a fresh zip via
    addPyFile (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _shipped:
        return
    try:
        import tempfile
        import zipfile

        # tempdir, not the repo: rebuilding in-tree would dirty git
        zpath = os.path.join(tempfile.gettempdir(), "geospark_entry.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, dirs, files in os.walk(os.path.join(_REPO, "geospark")):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        z.write(p, os.path.relpath(p, _REPO))
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # same-cwd runs work via PYTHONPATH anyway
    _shipped.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_workers(spark)
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_jvm

    sf_dir = "/root/testdata/sf0.001"
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    pages = generate_pages(spark, n_docs * 40)
    districts = generate_districts(spark, 100)
    out = geocode_pip_tile_jvm(pages, districts, tile_level=14)
    return out.select("url", "poly_id", "cell_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from geospark.queries import registry

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in registry().items()}


def oracle_sql() -> dict[str, str]:
    from geospark.queries import oracles

    return oracles()
