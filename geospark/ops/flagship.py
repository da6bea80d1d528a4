"""Fused flagship pipeline: pages → geocode → cell → PIP join → tile,
in ONE python stage.

There is one flagship, `geocode_pip_tile_jvm`.  The geo-token regex
runs in the JVM (regexp_extract inside whole-stage codegen), so the
python stage only ever sees (page_id[, url], x, y); the geometry
kernel runs in numpy, where the JVM has nothing comparable.

Why fusion matters at scale: every chained pandas-UDF stage costs a
JVM↔Python Arrow round-trip *and* one python worker per task — at
local[32] a 3-stage chain runs ~96 worker processes on 32 cores and
scaling efficiency collapses (measured 0.38 from 8→32 cores).  The
broadcast PIP join needs no Catalyst join at all: the build side is a
cell→polygons hash index plus the polygons' flat y-banded edge table,
shipped once per executor (the distributed form of the reference's
prepared-geometry probe, index.clj:124-139), so the whole pipeline is
scan → one mapInArrow → aggregate: perfectly data-parallel, zero
shuffles before the final count/sink.

Inside the Python stage the kernel (`_pip_tile`) is batch-at-a-time,
never polygon-at-a-time: every (polygon, point) candidate pair of a
batch is gathered from the cell index and located in ONE numpy pass
(`predicates.locate_pairs`).  Measured on 4 cores, one task's 100,587
pairs over ~1,200 districts: the former per-polygon loop (decode,
prepare, `locate_batch`) took ~165 ms; the whole kernel now takes
~45 ms, of which the pair pass is ~20 ms.

Alternatives measured slower and deleted (BENCH/BASELINE.md keeps the
numbers): a pandas form with a python regex loop, an all-Catalyst
higher-order-function PIP (plain and unrolled), and a JVM inner-box
fast path with a python ring refine.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cells.cellid import DEFAULT_GRID, CellGrid
from ..cells.coverage import cover_geometry
from ..geom import core as gc
from ..geom import predicates as gpred


# broadcast-index reuse across calls on the SAME polygon DataFrame
# object: a long-running job queries one dimension layer repeatedly
# and should pay the collect + driver-side cover + broadcast ONCE, not
# per query.  Weak keys: dropping the DataFrame drops its cached
# indexes, and a finalizer UNPERSISTS the broadcasts at that point
# (executor blocks are freed eagerly instead of waiting on driver GC +
# ContextCleaner; see _release_entries for why not destroy).
#
# CONTRACT: identity implies identical data only for DataFrames over
# immutable sources.  A DataFrame whose underlying files are
# re-written in place (overwritten parquet path, replaced temp view)
# would return a STALE index — cached dimension tables must be backed
# by immutable snapshots (the Iceberg-snapshot discipline the pipeline
# runner already follows).
import weakref

_INDEX_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _release_entries(per_df: dict) -> None:
    # unpersist, NOT destroy: a result DataFrame returned to the
    # caller closes over the broadcast and may outlive the dimension
    # DataFrame object that keyed the cache — destroy() would make
    # serializing its tasks throw INTERNAL_ERROR_BROADCAST (found by
    # the entry smoke test).  unpersist frees the executor copies
    # eagerly; a surviving plan that still needs the broadcast
    # re-fetches it from the driver, and full teardown is left to the
    # ContextCleaner once the last closure reference drops.
    for bc in per_df.values():
        try:
            bc.unpersist(blocking=False)
        except Exception:
            pass
    per_df.clear()


def _cached_index_bc(polys, poly_id, poly_geom, grid: CellGrid, level: int):
    per_df = _INDEX_CACHE.get(polys)
    if per_df is None:
        per_df = _INDEX_CACHE[polys] = {}
        # fires when the DataFrame object is collected — release the
        # executor copies eagerly rather than waiting on the
        # ContextCleaner (see _release_entries for why not destroy)
        weakref.finalize(polys, _release_entries, per_df)
    key = (poly_id, poly_geom, grid.x0, grid.y0, grid.span, level)
    bc = per_df.get(key)
    if bc is None:
        rows = [(r[0], bytes(r[1])) for r in polys.select(poly_id, poly_geom).collect()]
        bc = polys.sparkSession.sparkContext.broadcast(
            build_cell_index(rows, grid, level)
        )
        per_df[key] = bc
    return bc


def _extract_points_jvm_lax(pages: DataFrame, include_url: bool) -> DataFrame:
    """JVM geocode extraction: one regexp pass over raw html inside
    whole-stage codegen → (page_id[, url], x, y), the first
    `geo:<x>,<y>` token of each page (byte-compatible with
    extract.geocode.geocode_pages).

    Lax: a cheap `contains('geo:')` byte-search filter (implied by the
    regex, whose pattern starts with that literal) stands in for a
    regex-match filter, so the regex is evaluated ONCE per candidate
    row, in the projection (measured at 160M pages: 10.6s → 7.9s for
    the extraction subtree against a match filter plus projection).
    Rows where the pattern does not complete after 'geo:' come through
    with x/y NULL; consumers drop them (the kernel's NaN mask, or
    dropna before the shuffle join)."""
    html_str = F.col("html").cast("string")
    tok = F.regexp_extract(html_str, r"geo:(-?\d+\.\d+,-?\d+\.\d+)", 1)
    parts = F.split(tok, ",")
    return (
        pages.where(html_str.contains("geo:"))
        .select(
            "page_id",
            *(["url"] if include_url else []),
            parts.alias("__p"),
        )
        .select(
            "page_id",
            *(["url"] if include_url else []),
            F.get("__p", 0).try_cast("double").alias("x"),
            F.get("__p", 1).try_cast("double").alias("y"),
        )
    )


def _out_schema(polys: DataFrame, poly_id: str, include_url: bool) -> StructType:
    """(page_id[, url], poly_id, cell_id) — the flagship output schema."""
    fields = [StructField("page_id", LongType())]
    if include_url:
        fields.append(StructField("url", StringType()))
    fields += [
        StructField("poly_id", polys.schema[poly_id].dataType),
        StructField("cell_id", LongType()),
    ]
    return StructType(fields)


def build_cell_index(polys_rows, grid: CellGrid, level: int):
    """cell id → int32 indexes into the polygon arrays, in CSR layout
    (sorted keys + member slices) so the probe resolves every cell of
    a batch with ONE np.searchsorted, plus the polygons' flat y-banded
    edge table for the pair kernel (built once, then broadcast)."""
    pids = []
    geoms = []
    cell_map = defaultdict(list)
    for i, (pid, wkb) in enumerate(polys_rows):
        g = gc.from_wkb(wkb)
        for cid in cover_geometry(g, grid, level):
            cell_map[int(cid)].append(i)
        pids.append(pid)
        geoms.append(g)
    sorted_cells = sorted(cell_map)
    counts = np.asarray([len(cell_map[c]) for c in sorted_cells], dtype=np.int64)
    return {
        "pids": np.asarray(pids),
        "edges": gpred.edge_table(geoms),
        "cell_keys": np.asarray(sorted_cells, dtype=np.int64),
        "starts": np.concatenate([[0], np.cumsum(counts)]),
        "members": (
            np.concatenate(
                [np.asarray(cell_map[c], dtype=np.int32) for c in sorted_cells]
            )
            if sorted_cells
            else np.empty(0, dtype=np.int32)
        ),
        "level": level,
    }


def _gather_pairs(pcells, keys, starts, members):
    """Vectorized candidate gather: for every point whose cell hits the
    index, pair it with each member polygon of that cell.  Returns
    (poly_idx, point_idx), one entry per candidate pair — no python
    loop over cells or polygons."""
    order = np.argsort(pcells, kind="stable")
    pcells_s = pcells[order]
    bnds = np.flatnonzero(np.r_[True, pcells_s[1:] != pcells_s[:-1], True])
    ucells = pcells_s[bnds[:-1]]
    pt_cnt = np.diff(bnds)
    pos = np.searchsorted(keys, ucells)
    if len(keys):
        pos = np.minimum(pos, len(keys) - 1)
        valid = keys[pos] == ucells
    else:
        valid = np.zeros(len(ucells), dtype=bool)
    vpos = pos[valid]
    vstart = bnds[:-1][valid]
    vcnt = pt_cnt[valid]
    # (cell, member) pair expansion
    mcnt = starts[vpos + 1] - starts[vpos]
    P = int(mcnt.sum())
    if P == 0:
        return None
    prow = np.repeat(np.arange(len(vpos), dtype=np.int64), mcnt)
    moff = np.arange(P, dtype=np.int64) - np.repeat(np.cumsum(mcnt) - mcnt, mcnt)
    pair_poly = members[np.repeat(starts[vpos], mcnt) + moff].astype(np.int64)
    # (pair, point) expansion: each pair contributes its cell's points
    pair_pts = vcnt[prow]
    T = int(pair_pts.sum())
    qrow = np.repeat(np.arange(P, dtype=np.int64), pair_pts)
    qoff = np.arange(T, dtype=np.int64) - np.repeat(np.cumsum(pair_pts) - pair_pts, pair_pts)
    return pair_poly[qrow], order[vstart[prow][qrow] + qoff]


def _pip_tile(idx, grid: CellGrid, tile_level: int, ids, px, py, urls):
    """The flagship kernel over one batch of geocoded points: gather
    candidate pairs → one pair pass → one tile encode over all hits.
    Returns the output columns (page_id[, url], poly_id, cell_id), or
    None when no point lands in a polygon."""
    pcells = grid.encode_points(px, py, idx["level"])
    gathered = _gather_pairs(pcells, idx["cell_keys"], idx["starts"], idx["members"])
    if gathered is None:
        return None
    poly, point = gathered
    hit = gpred.locate_pairs(idx["edges"], poly, px[point], py[point]) != gpred.EXTERIOR
    if not hit.any():
        return None
    poly, point = poly[hit], point[hit]
    cols = {"page_id": ids[point]}
    if urls is not None:
        cols["url"] = urls[point]
    cols["poly_id"] = idx["pids"][poly]
    cols["cell_id"] = grid.encode_points(px[point], py[point], tile_level)
    return cols


def geocode_pip_tile_jvm(
    pages: DataFrame,
    polys: DataFrame,
    poly_id: str = "poly_id",
    poly_geom: str = "geom",
    level: Optional[int] = None,
    tile_level: int = 14,
    grid: CellGrid = DEFAULT_GRID,
    include_url: bool = True,
) -> DataFrame:
    """pages(url, html, page_id) × polygons → (page_id[, url], poly_id,
    cell_id).  Same join semantics as geocode_pages + pip_join
    (intersects) + assign_tiles; the first geo token of a page is its
    location.

    The geo regex runs JVM-side on the raw html (tags can't split a
    token), where it is C2-compiled and shares no python worker; the
    python stage only sees (page_id[, url], x, y) and runs the numpy
    kernel.  include_url=False drops the widest output column when
    downstream only needs the id (less Arrow bandwidth).

    Size gate: above `joins.BROADCAST_MAX_BYTES` estimated build bytes
    the broadcast cell index (driver collect) is refused and the JVM-
    extracted points go through pip_join's shuffle cell-join instead
    (identical output).
    """
    from .joins import BROADCAST_MAX_BYTES, choose_level, estimate_build_bytes, pip_join

    if level is None:
        level = choose_level(polys, poly_geom, grid)
    # a cache hit means an earlier call already paid for this dimension
    # table's collect + broadcast — reusing it costs no new memory, so
    # skip the estimate job; the gate only governs whether to pay for a
    # NEW collect+broadcast
    cached = polys in _INDEX_CACHE and (
        (poly_id, poly_geom, grid.x0, grid.y0, grid.span, level) in _INDEX_CACHE[polys]
    )
    use_broadcast = cached or (
        estimate_build_bytes(polys, poly_geom) <= BROADCAST_MAX_BYTES
    )
    pts = _extract_points_jvm_lax(pages, include_url)
    if not use_broadcast:
        # pages whose token did not parse carry NULL x/y: drop them
        # before the join, as the kernel's NaN mask does
        out = pip_join(
            pts.dropna(subset=["x", "y"]), polys, point_id="page_id",
            x_col="x", y_col="y", poly_id=poly_id, poly_geom=poly_geom,
            level=level, grid=grid, broadcast=False,
            keep_cols=(["url"] if include_url else []),
            tile_level=tile_level, tile_grid=grid,
        )
        return out.select(
            F.col("point_id").alias("page_id"),
            *(["url"] if include_url else []),
            "poly_id", "cell_id",
        )

    bc = _cached_index_bc(polys, poly_id, poly_geom, grid, level)
    out_schema = _out_schema(polys, poly_id, include_url)

    # Kernel I/O shape: mapInArrow instead of mapInPandas skips the
    # pandas conversion on both sides (round 6, 160M pages: 19.3s →
    # 18.1s).  Input record batches are coalesced to ~1M rows, and each
    # coalesced batch is one gather, one pair pass over all of its
    # candidate pairs, one tile encode and one output RecordBatch, so
    # no Python work scales with the number of polygons hit.  The
    # coalesce amortizes the per-call fixed costs (round 6, when the
    # kernel still looped per polygon: 18.1s → 15.6s) without raising
    # the session-wide batch cap, which would quadruple the text
    # kernels' per-batch memory.
    target_rows = 1 << 20

    def run(rbatches):
        import pyarrow as pa

        idx = bc.value

        def process(ids, px, py, urls):
            cols = _pip_tile(idx, grid, tile_level, ids, px, py, urls)
            if cols is None:
                return None
            return pa.RecordBatch.from_arrays(
                [pa.array(v) for v in cols.values()], names=list(cols)
            )

        buf_ids, buf_px, buf_py, buf_urls = [], [], [], []
        nbuf = 0

        def drain():
            nonlocal nbuf
            if not nbuf:
                return None
            ids = np.concatenate(buf_ids) if len(buf_ids) > 1 else buf_ids[0]
            px = np.concatenate(buf_px) if len(buf_px) > 1 else buf_px[0]
            py = np.concatenate(buf_py) if len(buf_py) > 1 else buf_py[0]
            urls = (
                (np.concatenate(buf_urls) if len(buf_urls) > 1 else buf_urls[0])
                if include_url
                else None
            )
            buf_ids.clear(); buf_px.clear(); buf_py.clear(); buf_urls.clear()
            nbuf = 0
            return process(ids, px, py, urls)

        for rb in rbatches:
            cols = {n: i for i, n in enumerate(rb.schema.names)}
            px = rb.column(cols["x"]).to_numpy(zero_copy_only=False)
            py = rb.column(cols["y"]).to_numpy(zero_copy_only=False)
            ids = rb.column(cols["page_id"]).to_numpy(zero_copy_only=False)
            # lax extraction defers the no-match drop to here: a row
            # whose html contains 'geo:' but not the full token comes
            # through with NULL x/y (NaN after to_numpy)
            ok = ~(np.isnan(px) | np.isnan(py))
            if not ok.all():
                px, py, ids = px[ok], py[ok], ids[ok]
            if len(px) == 0:
                continue
            buf_ids.append(ids)
            buf_px.append(px)
            buf_py.append(py)
            if include_url:
                urls = rb.column(cols["url"]).to_numpy(zero_copy_only=False)
                buf_urls.append(urls[ok] if not ok.all() else urls)
            nbuf += len(px)
            if nbuf >= target_rows:
                out = drain()
                if out is not None:
                    yield out
        out = drain()
        if out is not None:
            yield out

    return pts.mapInArrow(run, schema=out_schema)
