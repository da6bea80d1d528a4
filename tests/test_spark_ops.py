"""Distributed operator tests: pip_join / predicate_join / knn_join /
tiling / dissolve / geocode, checked against brute-force oracles and
the reference kNN fixtures (index_test.clj:95-143)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospark.geom import core as C, ops as O
from geospark.geom.predicates import PreparedPolygon, EXTERIOR
from tests.conftest import wkt_set

SQ1 = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
SQ2 = "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"
FAR = "POLYGON ((1010 1010, 1020 1010, 1020 1020, 1010 1020, 1010 1010))"


@pytest.fixture(scope="module")
def squares_df(spark):
    rows = [(i, C.to_wkb(C.from_wkt(w))) for i, w in enumerate([SQ1, SQ2, FAR])]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["bid", "geom"]))


def test_pip_join_matches_bruteforce(spark):
    from geospark.ops.joins import pip_join

    rng = np.random.RandomState(7)
    n = 3000
    pts = pd.DataFrame(
        {"point_id": np.arange(n), "x": rng.uniform(-5, 25, n), "y": rng.uniform(-5, 25, n)}
    )
    polys = pd.DataFrame(
        {
            "poly_id": [0, 1, 2],
            "geom": [
                C.to_wkb(C.from_wkt(SQ1)),
                C.to_wkb(C.from_wkt(SQ2)),
                C.to_wkb(
                    C.from_wkt(
                        "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (5 5, 15 5, 15 15, 5 15, 5 5))"
                    )
                ),
            ],
        }
    )
    got = (
        pip_join(
            spark.createDataFrame(pts),
            spark.createDataFrame(polys),
        )
        .toPandas()
    )
    got_set = set(zip(got["point_id"], got["poly_id"]))
    exp = set()
    for _, row in polys.iterrows():
        pp = PreparedPolygon(C.from_wkb(row["geom"]))
        loc = pp.locate_batch(pts["x"].to_numpy(), pts["y"].to_numpy())
        for i in np.nonzero(loc != EXTERIOR)[0]:
            exp.add((i, row["poly_id"]))
    assert got_set == exp


def test_pip_join_salted_same_result(spark):
    from geospark.ops.joins import pip_join

    rng = np.random.RandomState(3)
    n = 500
    pts = pd.DataFrame({"point_id": np.arange(n), "x": rng.uniform(0, 10, n), "y": rng.uniform(0, 10, n)})
    polys = pd.DataFrame({"poly_id": [0], "geom": [C.to_wkb(C.from_wkt(SQ1))]})
    plain = pip_join(spark.createDataFrame(pts), spark.createDataFrame(polys)).toPandas()
    salted = pip_join(
        spark.createDataFrame(pts), spark.createDataFrame(polys), salt=4
    ).toPandas()
    assert set(zip(plain["point_id"], plain["poly_id"])) == set(
        zip(salted["point_id"], salted["poly_id"])
    )


def test_pip_join_bbox_prefilter_same_result(spark):
    """Opt-in JVM bbox prefilter (round-5 A/B: measured net-negative
    on both sparse and dense candidate mixes, kept as an option —
    BENCH/round5_pip_join_decomposition.json) must not change the
    result set, including boundary/touches hits on the envelope."""
    from geospark.ops.joins import pip_join

    rng = np.random.RandomState(11)
    n = 800
    xs = np.concatenate([rng.uniform(-5, 25, n - 4), [0.0, 10.0, 0.0, 10.0]])
    ys = np.concatenate([rng.uniform(-5, 25, n - 4), [0.0, 10.0, 5.0, 5.0]])
    pts = pd.DataFrame({"point_id": np.arange(n), "x": xs, "y": ys})
    polys = pd.DataFrame(
        {"poly_id": [0, 1], "geom": [C.to_wkb(C.from_wkt(SQ1)), C.to_wkb(C.from_wkt(SQ2))]}
    )
    for pred in ("intersects", "touches", "contains"):
        plain = pip_join(
            spark.createDataFrame(pts), spark.createDataFrame(polys), predicate=pred
        ).toPandas()
        filt = pip_join(
            spark.createDataFrame(pts), spark.createDataFrame(polys),
            predicate=pred, bbox_prefilter=True,
        ).toPandas()
        assert set(zip(plain["point_id"], plain["poly_id"])) == set(
            zip(filt["point_id"], filt["poly_id"])
        )


def test_predicate_join_modes(spark, squares_df):
    from geospark.ops.joins import predicate_join

    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "lid": [0, 1, 2],
                "geom": [
                    C.to_wkb(C.from_wkt("POINT (5 5)")),
                    C.to_wkb(C.from_wkt("POLYGON ((5 5, 11 5, 11 11, 5 11, 5 5))")),
                    C.to_wkb(C.from_wkt("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")),
                ],
            }
        )
    )
    inter = predicate_join(probes, squares_df, "lid", "geom", "bid", "geom", "intersects").toPandas()
    got = set(zip(inter["left_id"], inter["right_id"]))
    assert got == {(0, 0), (1, 0), (1, 1), (2, 0), (2, 1)}

    # covers with query-covers-entry orientation (index.clj:154-156)
    cov = predicate_join(probes, squares_df, "lid", "geom", "bid", "geom", "covers").toPandas()
    assert set(zip(cov["left_id"], cov["right_id"])) == {(2, 0), (2, 1)}

    ovl = predicate_join(probes, squares_df, "lid", "geom", "bid", "geom", "overlaps").toPandas()
    assert set(zip(ovl["left_id"], ovl["right_id"])) == {(1, 0), (1, 1)}


def test_knn_reference_fixtures(spark, squares_df):
    # index_test.clj:95-120 with the three squares
    from geospark.ops.knn import knn_join

    q = spark.createDataFrame(pd.DataFrame({"qid": [0], "x": [5.0], "y": [5.0]}))

    # range 100, n 10 → SQ1 then SQ2 (ordered by true distance)
    r = knn_join(q, squares_df, n=10, rng=100.0, build_geom="geom").orderBy("rank").toPandas()
    assert list(r["bid"]) == [0, 1]
    assert r["dist"].iloc[0] == 0.0

    # range 1, n 10 → only SQ1 (SQ2 rect dist √50 > 1)
    r = knn_join(q, squares_df, n=10, rng=1.0, build_geom="geom").toPandas()
    assert list(r["bid"]) == [0]

    # range 100, n 1 → SQ1
    r = knn_join(q, squares_df, n=1, rng=100.0, build_geom="geom").toPandas()
    assert list(r["bid"]) == [0]


def test_knn_geometry_query(spark, squares_df):
    # geometry-valued queries (index.clj:78: any HasGeometry): a polygon
    # query against geometry build side, plus against a point build side
    from geospark.ops.knn import knn_join

    qpoly = spark.createDataFrame(
        pd.DataFrame(
            {"qid": [0], "geom": [C.to_wkb(C.from_wkt("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"))]}
        )
    )
    r = (
        knn_join(qpoly, squares_df, n=10, rng=100.0, query_geom="geom", build_geom="geom")
        .orderBy("rank")
        .toPandas()
    )
    # overlapping SQ1 at dist 0, SQ2 at true dist √32 (corner 10,10 to 6,6)
    assert list(r["bid"]) == [0, 1]
    assert r["dist"].iloc[0] == 0.0
    assert abs(r["dist"].iloc[1] - np.sqrt(32)) < 1e-9

    # polygon query over a point build side
    pts = spark.createDataFrame(
        pd.DataFrame({"bid": [7, 8, 9], "x": [5.0, 13.0, 300.0], "y": [5.0, 6.0, 300.0]})
    )
    r = (
        knn_join(qpoly, pts, n=2, rng=50.0, query_geom="geom")
        .orderBy("rank")
        .toPandas()
    )
    # (5,5) inside → 0; (13,6) → 7 from edge x=6
    assert list(r["bid"]) == [7, 8]
    assert r["dist"].iloc[0] == 0.0 and abs(r["dist"].iloc[1] - 7.0) < 1e-9


def test_knn_points_bruteforce(spark):
    from geospark.ops.knn import knn_join

    rng = np.random.RandomState(11)
    nb, nq, k, radius = 2000, 50, 5, 500.0
    build = pd.DataFrame(
        {"bid": np.arange(nb), "x": rng.uniform(0, 10000, nb), "y": rng.uniform(0, 10000, nb)}
    )
    query = pd.DataFrame(
        {"qid": np.arange(nq), "x": rng.uniform(0, 10000, nq), "y": rng.uniform(0, 10000, nq)}
    )
    got = (
        knn_join(
            spark.createDataFrame(query),
            spark.createDataFrame(build),
            n=k,
            rng=radius,
        )
        .orderBy("qid", "rank")
        .toPandas()
    )
    for qid in range(nq):
        qx, qy = query.loc[qid, "x"], query.loc[qid, "y"]
        d = np.hypot(build["x"] - qx, build["y"] - qy)
        mask = d <= radius
        order = np.lexsort((build["bid"][mask], d[mask]))
        exp = list(build["bid"][mask].to_numpy()[order][:k])
        g = list(got[got["qid"] == qid]["bid"])
        assert g == exp, f"qid {qid}"


def test_knn_range_equal_to_cell_size(spark):
    """rng == cell_size(level) is the edge of the fast 3x3 query cover:
    x +- rng rounds independently at each end, so a query can touch 4
    cells per axis.  Here the query's x - rng lands a hair below a cell
    edge while x + rng rounds up onto the edge 3 cells on, and the
    build point in that 4th cell is exactly rng away.  knn_join must
    equal brute force."""
    from geospark.cells.cellid import DEFAULT_GRID
    from geospark.ops.knn import knn_join

    level = 8
    radius = DEFAULT_GRID.cell_size(level)
    assert DEFAULT_GRID.level_for_size(radius) == level
    qx, qy = 16383.999999999927, 1000.0
    n = 1 << level
    ix = lambda v: np.floor((v - DEFAULT_GRID.x0) / DEFAULT_GRID.span * n)
    assert ix(qx + radius) - ix(qx - radius) == 3
    rng = np.random.RandomState(5)
    bxs = np.r_[32767.999999999927, rng.uniform(qx - 2 * radius, qx + 2 * radius, 200)]
    bys = np.r_[qy, rng.uniform(qy - 2 * radius, qy + 2 * radius, 200)]
    build = pd.DataFrame({"bid": np.arange(len(bxs)), "x": bxs, "y": bys})
    query = pd.DataFrame({"qid": [0], "x": [qx], "y": [qy]})
    got = (
        knn_join(spark.createDataFrame(query), spark.createDataFrame(build), n=500, rng=radius)
        .orderBy("rank")
        .toPandas()
    )
    gx, gy = np.abs(bxs - qx), np.abs(bys - qy)
    d = np.sqrt(gx * gx + gy * gy)
    mask = d <= radius
    assert mask[0]
    order = np.lexsort((build["bid"][mask], d[mask]))
    assert list(got["bid"]) == list(build["bid"][mask].to_numpy()[order])


def test_tiling_and_raster(spark):
    from geospark.ops.tiling import assign_tiles, make_grid_df, rasterize, vectorize
    from geospark.cells.cellid import DEFAULT_GRID, unpack

    grid_df = make_grid_df(spark, 0, 0, 100, 100, 100).toPandas()
    assert len(grid_df) == 9  # same 3×3 as the reference golden

    pts = spark.createDataFrame(
        pd.DataFrame({"id": [0, 1, 2], "x": [1.0, 1.5, 9000.0], "y": [1.0, 1.5, 9000.0]})
    )
    t = assign_tiles(pts, level=12).toPandas()
    assert t["cell_id"].iloc[0] == t["cell_id"].iloc[1] != t["cell_id"].iloc[2]

    r = rasterize(pts, None, level=12).toPandas()
    assert sorted(r["value"]) == [1, 2]
    v = vectorize(spark.createDataFrame(r), threshold=2, level=12).toPandas()
    assert len(v) == 1
    g = C.from_wkb(v["geom"].iloc[0])
    s = DEFAULT_GRID.cell_size(12)
    assert abs(O.area(g) - s * s) < 1e-6


def test_dissolve(spark):
    from geospark.ops.dissolve import dissolve

    rows = pd.DataFrame(
        {
            "k": [1, 1, 2],
            "geom": [
                C.to_wkb(C.from_wkt(SQ1)),
                C.to_wkb(C.from_wkt("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")),
                C.to_wkb(C.from_wkt(FAR)),
            ],
        }
    )
    out = dissolve(spark.createDataFrame(rows), "k").orderBy("k").toPandas()
    g1 = C.from_wkb(out["geom"].iloc[0])
    assert O.area(g1) == 200.0 and g1.gtype == C.POLYGON
    assert O.area(C.from_wkb(out["geom"].iloc[1])) == 100.0


def test_geocode_and_pages(spark):
    from geospark.extract.geocode import geocode_pages
    from geospark.io.pages import generate_pages, page_coords

    pages = generate_pages(spark, 2000)
    geo = geocode_pages(pages).toPandas().sort_values("page_id")
    ids = geo["page_id"].to_numpy()
    x, y, kind = page_coords(ids.astype(np.uint64), 42)
    # extracted coordinates reproduce the generator's exactly (2dp fmt)
    pt = geo[geo["kind"] == 1]
    assert len(pt) / len(geo) > 0.6
    kx = x[kind == 1]
    np.testing.assert_allclose(pt["x"].to_numpy(), np.round(kx, 2), atol=0.0)
    bx = geo[geo["kind"] == 2]
    assert len(bx) > 0
    assert (bx["xmax"] > bx["xmin"]).all()


def test_spark_functions_envelope_predicates(spark):
    from geospark import functions as SF

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": [C.to_wkb(C.from_wkt(SQ1))],
                "b": [C.to_wkb(C.from_wkt("POINT (5 5)"))],
            }
        )
    )
    row = (
        df.select(
            SF.st_envelope("a").alias("env"),
            SF.st_intersects("a", "b").alias("i"),
            SF.st_area("a").alias("area"),
            SF.st_geometrytype("a").alias("t"),
            SF.st_astext(SF.st_centroid("a")).alias("c"),
        )
        .collect()[0]
    )
    assert row["env"]["xmin"] == 0.0 and row["env"]["ymax"] == 10.0
    assert row["i"] and row["area"] == 100.0
    assert row["t"] == "POLYGON"
    assert row["c"] == "POINT (5 5)"


def test_pip_join_shuffle_path_matches_broadcast(spark):
    """Large-large path: broadcast=False keeps WKB through the shuffle
    join; results must match the broadcast-dict path exactly."""
    from geospark.ops.joins import pip_join

    rng = np.random.RandomState(13)
    n = 800
    pts = pd.DataFrame(
        {"point_id": np.arange(n), "x": rng.uniform(-5, 25, n), "y": rng.uniform(-5, 25, n)}
    )
    polys = pd.DataFrame(
        {
            "poly_id": [0, 1],
            "geom": [
                C.to_wkb(C.from_wkt(SQ1)),
                C.to_wkb(C.from_wkt("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")),
            ],
        }
    )
    bc = pip_join(spark.createDataFrame(pts), spark.createDataFrame(polys), broadcast=True).toPandas()
    sh = pip_join(spark.createDataFrame(pts), spark.createDataFrame(polys), broadcast=False).toPandas()
    assert set(zip(bc["point_id"], bc["poly_id"])) == set(zip(sh["point_id"], sh["poly_id"]))
    assert len(bc) > 0


def test_predicate_join_broadcast_matches_shuffle(spark):
    """The broadcast-index plan (small right side) and the shuffle
    cover-cell plan must produce the identical pair set for every
    predicate mode."""
    from geospark.ops.joins import predicate_join

    rng = np.random.RandomState(17)
    n = 300

    def boxes(seed):
        r = np.random.RandomState(seed)
        x0 = r.uniform(0, 500, n)
        y0 = r.uniform(0, 500, n)
        w = r.uniform(5, 30, n)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "gid": np.arange(n),
                    "geom": [
                        C.to_wkb(C.from_wkt(
                            f"POLYGON (({a} {b}, {a+c} {b}, {a+c} {b+c}, {a} {b+c}, {a} {b}))"
                        ))
                        for a, b, c in zip(x0, y0, w)
                    ],
                }
            )
        )

    L, R = boxes(1), boxes(2)
    # regression: an empty geometry ahead of non-empty rows must not
    # misalign the broadcast cell index (indexes are compacted)
    R = spark.createDataFrame(
        pd.DataFrame({"gid": [9999], "geom": [C.to_wkb(C.from_wkt("POLYGON EMPTY"))]})
    ).unionByName(R)
    for pred in ("intersects", "overlaps", "covers"):
        bcast = predicate_join(L, R, "gid", "geom", "gid", "geom", pred, broadcast=True).toPandas()
        shuf = predicate_join(L, R, "gid", "geom", "gid", "geom", pred, broadcast=False).toPandas()
        assert set(zip(bcast["left_id"], bcast["right_id"])) == set(
            zip(shuf["left_id"], shuf["right_id"])
        ), pred
    assert len(bcast) >= 0 and len(shuf) >= 0


def test_pip_join_size_gate_falls_back_to_shuffle(spark):
    """A build side over the broadcast threshold must take the shuffle
    path (no unbounded driver collect) with identical output — even
    when broadcast=True was requested."""
    from geospark.ops.joins import estimate_build_bytes, pip_join

    rng = np.random.RandomState(29)
    n = 400
    pts = pd.DataFrame(
        {"point_id": np.arange(n), "x": rng.uniform(-5, 25, n), "y": rng.uniform(-5, 25, n)}
    )
    polys = pd.DataFrame(
        {
            "poly_id": [0, 1],
            "geom": [
                C.to_wkb(C.from_wkt(SQ1)),
                C.to_wkb(C.from_wkt("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")),
            ],
        }
    )
    spolys = spark.createDataFrame(polys)
    est = estimate_build_bytes(spolys, "geom")
    assert est > 0
    gated = pip_join(
        spark.createDataFrame(pts), spolys, broadcast=True, broadcast_threshold=1
    ).toPandas()
    ref = pip_join(
        spark.createDataFrame(pts), spolys, broadcast=False
    ).toPandas()
    assert set(zip(gated["point_id"], gated["poly_id"])) == set(
        zip(ref["point_id"], ref["poly_id"])
    )
    assert len(gated) > 0


def test_flagship_size_gate_parity(spark):
    """geocode_pip_tile_jvm above the gate decomposes into the shuffle
    cell-join; output must match the broadcast fused plan exactly."""
    from geospark.ops.flagship import geocode_pip_tile_jvm

    n = 300
    pages = spark.range(n).select(
        F.col("id").alias("page_id"),
        F.format_string("https://p%d.example.org/", F.col("id")).alias("url"),
        F.encode(
            F.format_string(
                "<html><p>geo:%.2f,%.2f</p></html>",
                (F.col("id") * 7919 % 1000).cast("double") / 10,
                (F.col("id") * 104729 % 1000).cast("double") / 10,
            ),
            "utf-8",
        ).alias("html"),
    )
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [0, 1],
                "geom": [
                    C.to_wkb(C.from_wkt("POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))")),
                    C.to_wkb(C.from_wkt("POLYGON ((40 40, 100 40, 100 100, 40 100, 40 40))")),
                ],
            }
        )
    )
    fused = geocode_pip_tile_jvm(pages, polys, tile_level=14).toPandas()
    import geospark.ops.joins as J

    saved = J.BROADCAST_MAX_BYTES
    try:
        J.BROADCAST_MAX_BYTES = 1
        gated = geocode_pip_tile_jvm(pages, polys, tile_level=14).toPandas()
    finally:
        J.BROADCAST_MAX_BYTES = saved
    key = lambda d: set(zip(d["page_id"], d["poly_id"], d["cell_id"]))
    assert key(fused) == key(gated)
    assert len(fused) > 0


def test_env_cells_udf_empty_batch_and_nan(spark):
    """0-row Arrow batches must yield a 0-length Series (np.split on
    an empty array returns ONE subarray), and NaN envelope coords must
    saturate to cell 0, not INT64_MIN (ADVICE r3)."""
    import numpy as np
    import pandas as pd

    from geospark.cells.cellid import DEFAULT_GRID, pack
    from geospark.ops.knn import _env_cells_udf

    fn = _env_cells_udf(DEFAULT_GRID, 8).func
    empty = pd.Series([], dtype=np.float64)
    out = fn(empty, empty, empty, empty)
    assert len(out) == 0

    nan = pd.Series([np.nan])
    out = fn(nan, nan, nan, nan)
    assert len(out) == 1
    assert list(out.iloc[0]) == [int(pack(np.array([0]), np.array([0]), 8)[0])]

    # partial NaN (finite xs, NaN ys) must not produce negative counts
    fin = pd.Series([100.0])
    out = fn(fin, nan, fin, nan)
    assert len(out) == 1 and len(out.iloc[0]) >= 1

    # finite MIN with NaN MAX: the NaN side saturates to cell 0,
    # inverting the raw range — must clamp, not raise
    out = fn(fin, fin, nan, nan)
    assert len(out) == 1 and len(out.iloc[0]) >= 1
