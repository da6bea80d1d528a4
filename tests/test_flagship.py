"""Fused flagship operator == composable path."""


def test_fused_matches_composable(spark):
    """The flagship equals geocode_pages + pip_join on (page_id,
    poly_id, cell_id) and carries each page's own url."""
    from geospark.cells.cellid import DEFAULT_GRID
    from geospark.extract.geocode import geocode_pages
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_jvm
    from geospark.ops.joins import choose_level, pip_join

    pages = generate_pages(spark, 20_000).cache()
    pages.count()
    districts = generate_districts(spark, 300).cache()
    districts.count()
    level = choose_level(districts, "geom", DEFAULT_GRID)

    fused = geocode_pip_tile_jvm(
        pages, districts, level=level, tile_level=14
    ).toPandas()
    assert list(fused.columns) == ["page_id", "url", "poly_id", "cell_id"]

    geo = geocode_pages(pages, cell_level=level).where("kind=1").select(
        "page_id", "url", "x", "y", "cell"
    )
    comp = pip_join(
        geo, districts, point_id="page_id", x_col="x", y_col="y",
        broadcast=True, level=level, cell_col="cell", tile_level=14,
        keep_cols=["url"],
    ).toPandas()

    a = set(map(tuple, fused[["page_id", "poly_id", "cell_id"]].values.tolist()))
    b = set(map(tuple, comp[["point_id", "poly_id", "cell_id"]].values.tolist()))
    assert a == b and len(a) > 0
    ua = sorted(map(tuple, fused[["page_id", "url"]].values.tolist()))
    ub = sorted(map(tuple, comp[["point_id", "url"]].values.tolist()))
    assert ua == ub

    lean = geocode_pip_tile_jvm(
        pages, districts, level=level, tile_level=14, include_url=False
    )
    assert lean.columns == ["page_id", "poly_id", "cell_id"]
    assert lean.count() == len(fused)


def test_broken_geo_tokens_same_under_size_gate(spark):
    """Pages whose 'geo:' token does not parse are dropped, and a page
    with a broken token before a valid one keeps the valid one — on
    the broadcast kernel and on the size-gated shuffle fallback
    alike."""
    import pandas as pd

    import geospark.ops.joins as J
    from geospark.geom import core as C
    from geospark.ops.flagship import geocode_pip_tile_jvm

    htmls = {
        0: "<p>geo:abc</p>",
        1: "<p>geo:12.50,</p>",
        2: "<p>geo:x near <b>geo:1.00,2.00</b></p>",
        3: "<p>geo:3.00,4.00</p>",
        4: "<p>no token</p>",
        5: "<p>geo:80.00,80.00</p>",
    }
    pages = spark.createDataFrame(
        [(i, f"https://p{i}.example.org/", bytearray(h.encode())) for i, h in htmls.items()],
        "page_id long, url string, html binary",
    )

    def polys():
        # a fresh DataFrame per run: a cached broadcast index for the
        # same object would bypass the size gate
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "poly_id": [0],
                    "geom": [C.to_wkb(C.from_wkt("POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"))],
                }
            )
        )

    fused_df = geocode_pip_tile_jvm(pages, polys(), tile_level=14)
    assert "MapInArrow" in fused_df._jdf.queryExecution().executedPlan().toString()
    fused = fused_df.toPandas()
    saved = J.BROADCAST_MAX_BYTES
    try:
        J.BROADCAST_MAX_BYTES = 1
        gated_df = geocode_pip_tile_jvm(pages, polys(), tile_level=14)
        assert "MapInArrow" not in gated_df._jdf.queryExecution().executedPlan().toString()
        gated = gated_df.toPandas()
    finally:
        J.BROADCAST_MAX_BYTES = saved
    key = lambda d: set(zip(d["page_id"], d["poly_id"], d["cell_id"]))
    assert key(fused) == key(gated)
    assert set(fused["page_id"]) == {2, 3}
    assert set(zip(gated["page_id"], gated["url"])) == {
        (2, "https://p2.example.org/"), (3, "https://p3.example.org/")
    }


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
