"""Fused flagship operator == composable path, and salting parity."""

import pytest
from pyspark.sql import functions as F


def test_fused_matches_composable(spark):
    from geospark.cells.cellid import DEFAULT_GRID
    from geospark.extract.geocode import geocode_pages
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile
    from geospark.ops.joins import choose_level, pip_join

    pages = generate_pages(spark, 20_000).cache()
    pages.count()
    districts = generate_districts(spark, 300).cache()
    districts.count()
    level = choose_level(districts, "geom", DEFAULT_GRID)

    fused = geocode_pip_tile(
        pages, districts, level=level, tile_level=14
    ).toPandas()

    geo = geocode_pages(pages, cell_level=level).where("kind=1").select(
        "page_id", "x", "y", "cell"
    )
    comp = pip_join(
        geo, districts, point_id="page_id", x_col="x", y_col="y",
        broadcast=True, level=level, cell_col="cell", tile_level=14,
    ).toPandas()

    a = set(map(tuple, fused[["page_id", "poly_id", "cell_id"]].values.tolist()))
    b = set(map(tuple, comp[["point_id", "poly_id", "cell_id"]].values.tolist()))
    assert a == b and len(a) > 0

    lean = geocode_pip_tile(
        pages, districts, level=level, tile_level=14, include_url=False
    )
    assert lean.columns == ["page_id", "poly_id", "cell_id"]
    assert lean.count() == len(fused)


def test_pandas_form_matches_jvm_form(spark):
    """geocode_pip_tile (python regex extraction, the form
    __spark_entry__ and the CLI run) and geocode_pip_tile_jvm (JVM extraction,
    the form the benchmarks time) emit the same (page_id, poly_id,
    cell_id) set, with and without the url column."""
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile, geocode_pip_tile_jvm

    pages = generate_pages(spark, 20000)
    districts = generate_districts(spark, 200)
    cols = ["page_id", "poly_id", "cell_id"]
    for include_url in (True, False):
        a = geocode_pip_tile(pages, districts, tile_level=14, include_url=include_url).toPandas()
        b = geocode_pip_tile_jvm(pages, districts, tile_level=14, include_url=include_url).toPandas()
        sa = sorted(map(tuple, a[cols].values.tolist()))
        sb = sorted(map(tuple, b[cols].values.tolist()))
        assert len(sa) > 0 and sa == sb
        if include_url:
            assert sorted(map(tuple, a[["page_id", "url"]].values.tolist())) == sorted(
                map(tuple, b[["page_id", "url"]].values.tolist())
            )


def test_geocode_pip_tile_sql_matches_kernel(spark):
    """The fully-JVM Catalyst plan (broadcast candidate join + HOF
    ray-crossing PIP) emits the identical row set to the mapInPandas
    kernel plan."""
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_jvm, geocode_pip_tile_sql

    pages = generate_pages(spark, 20000)
    districts = generate_districts(spark, 200)
    a = geocode_pip_tile_jvm(pages, districts, tile_level=14).toPandas()
    b = geocode_pip_tile_sql(pages, districts, tile_level=14).toPandas()
    cols = ["page_id", "poly_id", "cell_id"]
    sa = sorted(map(tuple, a[cols].values.tolist()))
    sb = sorted(map(tuple, b[cols].values.tolist()))
    assert len(sa) > 0 and sa == sb


def test_geocode_pip_tile_hybrid_matches_kernel(spark):
    """The inner-box hybrid plan (JVM fast path + python ring refine)
    emits the identical row set to the mapInPandas kernel plan."""
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_hybrid, geocode_pip_tile_jvm

    pages = generate_pages(spark, 20000)
    districts = generate_districts(spark, 200)
    a = geocode_pip_tile_jvm(pages, districts, tile_level=14).toPandas()
    b = geocode_pip_tile_hybrid(pages, districts, tile_level=14).toPandas()
    cols = ["page_id", "poly_id", "cell_id"]
    sa = sorted(map(tuple, a[cols].values.tolist()))
    sb = sorted(map(tuple, b[cols].values.tolist()))
    assert len(sa) > 0 and sa == sb


def test_inner_box_is_interior(spark):
    """_inner_box returns a box whose corners and midpoints are
    strictly interior for every district shape."""
    import numpy as np

    from geospark.geom import core as gc
    from geospark.geom import predicates as gpred
    from geospark.io.pages import generate_districts
    from geospark.ops.flagship import _inner_box

    rows = generate_districts(spark, 60).select("poly_id", "geom").collect()
    n_nonempty = 0
    for r in rows:
        pp = gpred.PreparedPolygon(gc.from_wkb(bytes(r[1])))
        x0, y0, x1, y1 = _inner_box(pp)
        if x0 > x1:
            continue
        n_nonempty += 1
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        px = np.array([x0, x1, x1, x0, cx, x0, x1, cx, cx]) 
        py = np.array([y0, y0, y1, y1, cy, cy, cy, y0, y1])
        # strictly interior points only (open box): nudge corners in
        eps = 1e-9 * max(x1 - x0, y1 - y0)
        px = np.clip(px, x0 + eps, x1 - eps)
        py = np.clip(py, y0 + eps, y1 - eps)
        assert (pp.locate_batch(px, py) == gpred.INTERIOR).all()
    assert n_nonempty >= 40  # most district shapes admit an inner box


def test_result_outlives_dimension_dataframe(spark):
    """A flagship result DataFrame closes over the cached broadcast
    index; collecting the dimension DataFrame (weak-key eviction +
    finalizer) must NOT invalidate the surviving plan — the finalizer
    unpersists (eager executor release) but never destroys."""
    import gc as _gc

    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_jvm

    pages = generate_pages(spark, 2000)
    districts = generate_districts(spark, 20)
    out = geocode_pip_tile_jvm(pages, districts, tile_level=10, include_url=False)
    n1 = out.count()
    del districts
    _gc.collect()
    # the broadcast was unpersisted by the finalizer; the surviving
    # plan must still execute (driver re-broadcasts on demand)
    assert out.count() == n1
    assert n1 > 0
