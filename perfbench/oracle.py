"""Brute-force answers the engine's outputs are checked against.

Nothing here calls the engine's geometry, cell or join code: district
WKB is decoded with `struct`, point-in-polygon is a plain crossing-number
test with an on-edge check, tile cells are Morton-packed bit by bit, and
the geo tokens are pulled out of the page html with Arrow's regex kernel.
Only the grid constants (origin, span) are taken from the engine, because
they define what a tile cell id means.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_M64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def page_points(pages_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(page_id, x, y) of every page whose html carries a geo token."""
    t = pq.read_table(pages_dir, columns=["page_id", "html"])
    html = pc.cast(t["html"], pa.string())
    m = pc.extract_regex(html, r"geo:(?P<x>-?\d+\.\d+),(?P<y>-?\d+\.\d+)")
    ok = pc.is_valid(m)
    m = m.filter(ok)
    ids = t["page_id"].filter(ok).to_numpy()
    x = pc.cast(pc.struct_field(m, "x"), pa.float64()).to_numpy()
    y = pc.cast(pc.struct_field(m, "y"), pa.float64()).to_numpy()
    return ids.astype(np.int64), x, y


def decode_polygon_wkb(buf: bytes) -> list[np.ndarray]:
    """Rings ((n, 2) float64 arrays) of a WKB Polygon or MultiPolygon."""
    rings: list[np.ndarray] = []

    def polygon(off: int, e: str) -> int:
        (n_rings,) = struct.unpack_from(e + "I", buf, off)
        off += 4
        for _ in range(n_rings):
            (n,) = struct.unpack_from(e + "I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, dtype=e + "f8", count=2 * n, offset=off).reshape(n, 2).astype(np.float64))
            off += 16 * n
        return off

    e = "<" if buf[0] == 1 else ">"
    (t,) = struct.unpack_from(e + "I", buf, 1)
    t %= 1000
    if t == 3:
        polygon(5, e)
    elif t == 6:
        (k,) = struct.unpack_from(e + "I", buf, 5)
        off = 9
        for _ in range(k):
            pe = "<" if buf[off] == 1 else ">"
            off = polygon(off + 5, pe)
    else:
        raise ValueError(f"district WKB type {t} is not a polygon")
    return rings


# ---------------------------------------------------------------------------
# point in polygon, tiles, hashing
# ---------------------------------------------------------------------------

def covers(rings: list[np.ndarray], px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """True where the point is inside the polygon or on its boundary
    (even-odd crossing number over the edges of all rings)."""
    e = np.concatenate([np.concatenate([r[:-1], r[1:]], axis=1) for r in rings])
    x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    qx, qy = px[:, None], py[:, None]
    straddle = (y1 <= qy) != (y2 <= qy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
    inside = (straddle & (qx < xint)).sum(axis=1) % 2 == 1
    cross = (x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1)
    on_edge = (
        (cross == 0)
        & (qx >= np.minimum(x1, x2)) & (qx <= np.maximum(x1, x2))
        & (qy >= np.minimum(y1, y2)) & (qy <= np.maximum(y1, y2))
    ).any(axis=1)
    return inside | on_edge


def tile_cells(x: np.ndarray, y: np.ndarray, level: int, grid) -> np.ndarray:
    """Morton tile id ((morton(ix, iy) << 6) | level) of each point."""
    n = 1 << level
    ix = np.clip(np.floor((x - grid.x0) / grid.span * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y - grid.y0) / grid.span * n), 0, n - 1).astype(np.int64)
    m = np.zeros(len(x), dtype=np.int64)
    for b in range(level):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return (m << 6) | level


def _mix(v: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        v = v.astype(np.uint64)
        v = (v ^ (v >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        v = (v ^ (v >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
        return v ^ (v >> np.uint64(33))


def row_hash(*cols: np.ndarray) -> int:
    """Order-independent hash of a set of int64 rows: the sum, mod 2^64,
    of a 64-bit mix of each row."""
    with np.errstate(over="ignore"):
        h = np.zeros(len(cols[0]), dtype=np.uint64)
        for i, c in enumerate(cols):
            h = _mix(h ^ (np.asarray(c).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15 * (i + 1) & _M64)))
        return int(h.sum(dtype=np.uint64))


# ---------------------------------------------------------------------------
# expected join output
# ---------------------------------------------------------------------------

@dataclass
class JoinAnswer:
    page_id: np.ndarray
    poly_id: np.ndarray
    cell_id: np.ndarray

    @property
    def rows(self) -> int:
        return len(self.page_id)

    @property
    def digest(self) -> int:
        return row_hash(self.page_id, self.poly_id, self.cell_id)


def pip_join(ids, x, y, districts, tile_level: int, grid) -> JoinAnswer:
    """Every (page, district) pair with the page point covered by the
    district, plus the page's tile cell.  districts: [(poly_id, wkb)]."""
    order = np.argsort(x, kind="stable")
    xs, ys, idss = x[order], y[order], ids[order]
    out_page, out_poly, out_x, out_y = [], [], [], []
    for pid, wkb in districts:
        rings = decode_polygon_wkb(bytes(wkb))
        allc = np.concatenate(rings)
        xmin, ymin = allc.min(axis=0)
        xmax, ymax = allc.max(axis=0)
        sel = np.arange(np.searchsorted(xs, xmin, "left"), np.searchsorted(xs, xmax, "right"))
        sel = sel[(ys[sel] >= ymin) & (ys[sel] <= ymax)]
        if not len(sel):
            continue
        hit = sel[covers(rings, xs[sel], ys[sel])]
        out_page.append(idss[hit])
        out_poly.append(np.full(len(hit), pid, dtype=np.int64))
        out_x.append(xs[hit])
        out_y.append(ys[hit])
    px, py = np.concatenate(out_x), np.concatenate(out_y)
    return JoinAnswer(np.concatenate(out_page), np.concatenate(out_poly), tile_cells(px, py, tile_level, grid))


def join_mismatch(expected: JoinAnswer, page_id, poly_id, cell_id) -> int:
    """Rows in one answer but not the other (0 when the sets are equal)."""
    got = np.stack([np.asarray(page_id, np.int64), np.asarray(poly_id, np.int64), np.asarray(cell_id, np.int64)], axis=1)
    exp = np.stack([expected.page_id, expected.poly_id, expected.cell_id], axis=1)
    if len(got) == len(exp) and row_hash(*got.T) == expected.digest:
        return 0
    g = {tuple(r) for r in got.tolist()}
    e = {tuple(r) for r in exp.tolist()}
    return len(g ^ e) + (len(got) - len(g))


# ---------------------------------------------------------------------------
# nearest-n and range lookups
# ---------------------------------------------------------------------------

def lookup(ids, x, y, qx: float, qy: float, n: int | None, rng: float) -> list[int]:
    """Build ids a lookup must return: within `rng` of (qx, qy), ranked by
    (distance, id) and cut to the first n when n is given (sorted ids
    for a range lookup)."""
    dx = np.abs(x - qx)
    dy = np.abs(y - qy)
    d = np.sqrt(dx * dx + dy * dy)
    near = np.flatnonzero(d <= rng)
    if n is None:
        return sorted(ids[near].tolist())
    order = np.lexsort((ids[near], d[near]))[:n]
    return ids[near][order].tolist()
