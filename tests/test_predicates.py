"""Predicate truth tables ported from index_test.clj:16-143 and the
core predicate surface (core.clj:266-275)."""

import math

import numpy as np

from geospark.geom import core as C, ops as O
from geospark.geom import predicates as P

SQ1 = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
SQ2 = "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"
FAR = "POLYGON ((1010 1010, 1020 1010, 1020 1020, 1010 1020, 1010 1010))"


def g(w):
    return C.from_wkt(w)


def test_intersecting_truth_table():
    # index_test.clj:16-28
    assert P.intersects(g(SQ1), g("POINT (5 5)"))
    assert not P.intersects(g(SQ2), g("POINT (5 5)"))
    # empty query intersects nothing
    assert not P.intersects(g(SQ1), g("POLYGON EMPTY"))
    assert not P.intersects(g("POLYGON EMPTY"), g(SQ1))


def test_centroid_intersecting():
    # index_test.clj:30-42: query polygon vs entry centroids
    q = g("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")
    assert P.intersects(q, O.centroid(g(SQ1)))
    assert not P.intersects(q, O.centroid(g(SQ2)))
    q2 = g("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))")
    assert not P.intersects(q2, O.centroid(g(SQ1)))
    assert not P.intersects(q2, O.centroid(g(SQ2)))


def test_touching():
    # index_test.clj:64-71: POINT (0 0) touches SQ1, not SQ2
    assert P.touches(g(SQ1), g("POINT (0 0)"))
    assert not P.touches(g(SQ2), g("POINT (0 0)"))
    # corner-touching squares touch
    assert P.touches(g(SQ1), g(SQ2))
    # interior point does not touch
    assert not P.touches(g(SQ1), g("POINT (5 5)"))
    # edge-sharing squares touch
    assert P.touches(g(SQ1), g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"))


def test_overlapping():
    # index_test.clj:73-82: query overlaps SQ1 and SQ2, not the small one
    q = g("POLYGON ((5 5, 11 5, 11 11, 5 11, 5 5))")
    assert P.overlaps(q, g(SQ1)) and P.overlaps(g(SQ1), q)
    assert P.overlaps(q, g(SQ2))
    small = g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert not P.overlaps(q, small)
    # containment is not overlap
    assert not P.overlaps(g(SQ1), small)


def test_strip_overlap_same_extent_boxes():
    # regression (found by the driver predicate oracle): same-x-extent
    # boxes overlapping in a y-strip — every corner of the overlap
    # region lies on both boundaries and neither centroid is inside the
    # other, so the sampling heuristics all miss; the overlay fallback
    # must classify this as overlaps, NOT touches
    a = g("POLYGON ((19 11, 29 11, 29 21, 19 21, 19 11))")
    b = g("POLYGON ((19 3, 29 3, 29 13, 19 13, 19 3))")
    assert P.intersects(a, b)
    assert P.overlaps(a, b) and P.overlaps(b, a)
    assert not P.touches(a, b)
    # shifted to share only the y=11/13→11 edge: touches, not overlaps
    c = g("POLYGON ((19 1, 29 1, 29 11, 19 11, 19 1))")
    assert P.touches(a, c)
    assert not P.overlaps(a, c)


def test_covered_by():
    # index_test.clj:84-93: query covers SQ1 and SQ2 but not the
    # triangle poking out to x=-1 (orientation: query covers entry)
    q = g("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")
    tri = g("POLYGON ((-1 0, 1 0, 1 1, 0 1, -1 0))")
    assert P.covers(q, g(SQ1))
    assert P.covers(q, g(SQ2))
    assert not P.covers(q, tri)
    # covers self
    assert P.covers(g(SQ1), g(SQ1))
    # contains requires interior intersection
    assert P.contains(q, g(SQ1))
    assert not P.contains(g(SQ1), g(SQ1)) is None  # contains(self) is True in OGC
    assert P.contains(g(SQ1), g("POINT (5 5)"))
    assert not P.contains(g(SQ1), g("POINT (0 0)"))  # boundary point
    assert P.covers(g(SQ1), g("POINT (0 0)"))


def test_polygon_with_hole_predicates():
    holed = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")
    assert not P.contains(holed, g("POINT (5 5)"))  # in the hole
    assert P.contains(holed, g("POINT (1 1)"))
    inner = g("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    assert not P.covers(holed, inner)
    assert P.touches(holed, g("POINT (3 3)"))  # hole boundary


def test_distance_and_closest_points():
    d = P.distance(g(SQ1), g(FAR))
    assert abs(d - math.hypot(1000, 1000)) < 1e-9
    assert P.distance(g(SQ1), g(SQ2)) == 0.0
    dist, pa, pb = P.closest_points(g("LINESTRING (0 0, 10 0)"), g("POINT (5 3)"))
    assert dist == 3.0 and pa == (5.0, 3.0 - 3.0) and pb == (5.0, 3.0)


def test_bbox_distance():
    ea = g(SQ1).envelope()
    eb = g(FAR).envelope()
    assert abs(P.bbox_distance(ea, eb) - math.hypot(1000, 1000)) < 1e-9
    assert P.bbox_distance(ea, g(SQ2).envelope()) == 0.0


def test_prepared_polygon_batch():
    pp = P.PreparedPolygon(g(SQ1))
    xs = np.array([5.0, 0.0, -1.0, 10.0, 15.0])
    ys = np.array([5.0, 0.0, 5.0, 5.0, 15.0])
    loc = pp.locate_batch(xs, ys)
    assert list(loc) == [P.INTERIOR, P.BOUNDARY, P.EXTERIOR, P.BOUNDARY, P.EXTERIOR]


def test_prepared_polygon_large_bucketed():
    # force the y-bucket index path (>=256 edges)
    ang = np.linspace(0, 2 * np.pi, 400)
    ring = np.column_stack([np.cos(ang) * 100, np.sin(ang) * 100])
    ring[-1] = ring[0]
    poly = C.Geometry(C.POLYGON, [ring])
    pp = P.PreparedPolygon(poly)
    xs = np.array([0.0, 99.9, 101.0])
    ys = np.array([0.0, 0.0, 0.0])
    loc = pp.locate_batch(xs, ys)
    assert loc[0] == P.INTERIOR and loc[2] == P.EXTERIOR


# ---------------------------------------------------------------------------
# locate_pairs: many (polygon, point) pairs in one pass == locate_batch
# ---------------------------------------------------------------------------

def _ring(n, r, cx=0.0, cy=0.0, seed=0):
    """Closed star-shaped ring with n vertices on a 0.5-unit lattice
    (lattice points make exact on-edge / on-vertex hits likely)."""
    rs = np.random.RandomState(seed)
    a = np.sort(rs.uniform(0, 2 * np.pi, n))
    rr = r * rs.uniform(0.4, 1.0, n)
    ring = np.round(np.column_stack([cx + np.cos(a) * rr, cy + np.sin(a) * rr]) * 2) / 2
    return np.vstack([ring, ring[:1]])


PAIR_POLYS = [
    SQ1,
    # hole
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 8 2, 8 8, 2 8, 2 2))",
    # multipolygon, one part with a hole, parts separated in y
    "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((1 6, 9 6, 9 10, 1 10, 1 6), "
    "(3 7, 5 7, 5 9, 3 9, 3 7)))",
    # concave with horizontal edges and a vertex on the ray
    "POLYGON ((0 0, 10 0, 10 10, 5 5, 0 10, 0 0))",
    # zero-height (every vertex on y = 3) and empty
    "POLYGON ((0 3, 10 3, 5 3, 0 3))",
    "POLYGON EMPTY",
]


def _pair_polys():
    geoms = [g(w) for w in PAIR_POLYS]
    # >= 256 edges: PreparedPolygon's y-bucket path; then a 1000-edge
    # polygon with a hole
    geoms.append(C.Geometry(C.POLYGON, [_ring(300, 10, 5, 5, seed=1)]))
    geoms.append(
        C.Geometry(C.POLYGON, [_ring(1000, 10, 5, 5, seed=2), _ring(40, 2, 5, 5, seed=3)[::-1]])
    )
    return geoms


def _probe_points(pp, rs, n_random):
    """Vertices, edge midpoints, bbox corners and edge points, points
    outside the bbox, and lattice points across the bbox."""
    if len(pp.x1):
        xmin, ymin, xmax, ymax = pp.bbox
        xs = [pp.x1, (pp.x1 + pp.x2) / 2, [xmin, xmin, xmax, xmax, xmin, xmax]]
        ys = [pp.y1, (pp.y1 + pp.y2) / 2, [ymin, ymax, ymin, ymax, (ymin + ymax) / 2, ymax]]
        xs.append([xmin - 1, xmax + 1, (xmin + xmax) / 2, (xmin + xmax) / 2])
        ys.append([(ymin + ymax) / 2, ymin, ymin - 1e-9, ymax + 1])
    else:
        xmin, ymin, xmax, ymax = 0.0, 0.0, 10.0, 10.0
        xs, ys = [], []
    xs.append(np.round(rs.uniform(xmin - 2, xmax + 2, n_random) * 2) / 2)
    ys.append(np.round(rs.uniform(ymin - 2, ymax + 2, n_random) * 2) / 2)
    return np.concatenate([np.asarray(v, float) for v in xs]), np.concatenate(
        [np.asarray(v, float) for v in ys]
    )


def _pair_parity(n_random, chunk=None, monkeypatch=None):
    geoms = _pair_polys()
    table = P.edge_table(geoms)
    rs = np.random.RandomState(7)
    poly, px, py, want = [], [], [], []
    for i, geom in enumerate(geoms):
        pp = P.PreparedPolygon(geom)
        x, y = _probe_points(pp, rs, n_random)
        poly.append(np.full(len(x), i))
        px.append(x)
        py.append(y)
        # slices of 128 points take the y-bucket path on >= 256-edge
        # polygons; the whole batch takes the all-edges path
        sliced = np.concatenate(
            [pp.locate_batch(x[s : s + 128], y[s : s + 128]) for s in range(0, len(x), 128)]
        )
        assert list(sliced) == list(pp.locate_batch(x, y))
        want.append(sliced)
    poly, px, py, want = map(np.concatenate, (poly, px, py, want))
    # interleave the polygons: one call over every pair, in any order
    order = rs.permutation(len(poly))
    if chunk is not None:
        monkeypatch.setattr(P, "PAIR_CHUNK", chunk)
    got = P.locate_pairs(table, poly[order], px[order], py[order])
    assert got.dtype == np.int8
    assert list(got) == list(want[order])
    return want


def test_locate_pairs_matches_locate_batch():
    want = _pair_parity(n_random=400)
    # every code is exercised, boundary hits included
    assert set(np.unique(want)) == {P.EXTERIOR, P.BOUNDARY, P.INTERIOR}


def test_locate_pairs_chunk_seams(monkeypatch):
    # more pair-edges than one default chunk, then chunks so small that
    # a seam falls next to almost every pair
    geoms = _pair_polys()
    table = P.edge_table(geoms)
    rs = np.random.RandomState(3)
    x = rs.uniform(-6, 16, 30_000)
    y = rs.uniform(-6, 16, 30_000)
    big = len(geoms) - 1
    poly = np.full(len(x), big)
    want = P.PreparedPolygon(geoms[big]).locate_batch(x, y)
    bx = table["bbox"][big]
    inside = (x >= bx[0]) & (x <= bx[2]) & (y >= bx[1]) & (y <= bx[3])
    band = table["band_off"][big] + P._band_of(y[inside], bx[1], table["h"][big], table["nb"][big])
    bs = table["band_start"]
    assert int((bs[band + 1] - bs[band]).sum()) > 2 * P.PAIR_CHUNK
    assert list(P.locate_pairs(table, poly, x, y)) == list(want)
    _pair_parity(n_random=50, chunk=7, monkeypatch=monkeypatch)
    _pair_parity(n_random=50, chunk=1, monkeypatch=monkeypatch)


def test_locate_pairs_empty_inputs():
    table = P.edge_table([g(SQ1)])
    none = np.empty(0)
    assert len(P.locate_pairs(table, none.astype(np.int64), none, none)) == 0
    empty = P.edge_table([])
    assert len(empty["band_start"]) == 1 and len(empty["x1"]) == 0
