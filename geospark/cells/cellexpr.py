"""Catalyst-native cell-id encoding: the same (morton(ix,iy) << 6) |
level packing as cellid.pack, built from shift/mask Column expressions
so point→cell assignment runs inside whole-stage codegen with no
python worker at all.

Bit-identical to the numpy encoders by construction: the float
pipeline ((x - x0) / span * 2^level, truncate-toward-zero, clip) uses
the same IEEE-754 double operations in the same order, and the Morton
spread uses the same magic-number ladder (cellid._part1by1).
Equivalence is property-tested in tests/test_cells_crs.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .cellid import MAX_LEVEL, CellGrid


# Two Morton spread forms, picked by EXPRESSION CONTEXT:
#
#   ladder — the classic shift-or ladder.  References its input at
#   every step, so the expression TREE doubles per step (2^6 ≈ 64
#   copies of the input subtree).  In a Project/Aggregate stage,
#   whole-stage codegen's subexpression elimination collapses the
#   copies and the pure-ALU form is the fastest (measured 0.32 s /
#   64 M rows).  Fed into a JOIN KEY, the inlined tree blows the
#   generated method past janino's limit → interpreted fallback
#   re-evaluating the float cell_xy chain per leaf (measured 25×
#   slower on the pip_join probe, 5.1 s → 132 s).
#
#   table — four constant-array byte lookups (_MORTON_TAB[b] ==
#   cellid._part1by1(b)).  The input is referenced 4×, the tree stays
#   linear, codegen is healthy in every context; ~4× slower than the
#   ladder in pure-encode microbenches (1.3 s / 64 M rows) but robust.
#
# Default TABLE everywhere; projection-context call sites whose plans
# are codegen-asserted (assign_tiles, rasterize) opt into the ladder,
# and lambda-bound inputs (sequence variables in env_cells_expr) use
# the ladder because duplicating a lambda leaf is free while array
# literals inside interpreted lambdas are re-built per element.
def _spread_byte(b: int) -> int:
    v = b
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


_MORTON_TAB = [_spread_byte(b) for b in range(256)]


def _part1by1_ladder_expr(v: Column) -> Column:
    """Shift-or ladder spread — use only when the input is a cheap
    leaf (column ref / lambda var) or the stage is a codegen-verified
    Project (see module comment)."""
    v = v.bitwiseAND(F.lit(0x00000000FFFFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return v


# the 256-entry table as ONE cached Column: building it from 256
# F.lit() calls costs ~512 py4j round trips per query (measured ~1 s
# of driver-side plan-building per pip_join at fixture scale); a
# single F.expr string is one call, parsed once, and the unresolved
# literal Column is session-independent so module-level reuse is safe
_MORTON_TAB_COL = None


def _morton_tab_col() -> Column:
    global _MORTON_TAB_COL
    if _MORTON_TAB_COL is None:
        # elements must be BIGINT: shiftleft on an int column masks
        # the shift amount to 5 bits (shift-by-32 becomes shift-by-0)
        _MORTON_TAB_COL = F.expr(
            "array(" + ",".join(f"{x}L" for x in _MORTON_TAB) + ")"
        )
    return _MORTON_TAB_COL


def _part1by1_expr(v: Column, form: str = "table") -> Column:
    """Spread the low 32 bits of a long across even bit positions
    (bit-identical to cellid._part1by1, property-tested)."""
    if form == "ladder":
        return _part1by1_ladder_expr(v)
    tab = _morton_tab_col()
    out = None
    for k in range(4):
        byte = F.shiftrightunsigned(v, 8 * k).bitwiseAND(F.lit(0xFF)) if k else v.bitwiseAND(F.lit(0xFF))
        part = F.element_at(tab, (byte + 1).cast("int"))
        if k:
            part = F.shiftleft(part, 16 * k)
        out = part if out is None else out.bitwiseOR(part)
    return out


def cell_xy_expr(x: Column, y: Column, level: int, grid: CellGrid) -> tuple:
    """(ix, iy) cell coordinates at `level` — mirrors CellGrid.cell_xy
    exactly: (x - x0)/span * 2^level, clamp to [0, 2^level) as a
    DOUBLE, then truncate toward zero.

    Clamping BEFORE the cast matters twice: under ANSI mode (Spark 4
    default) an out-of-long-range double would make CAST throw rather
    than saturate, and numpy's .astype wraps where a JVM cast
    saturates — clamping first makes both engines saturate to the
    domain edge for arbitrarily large out-of-domain coordinates
    (cellid.cell_xy clips the float the same way)."""
    n = 1 << level
    # nanvl first: Spark orders NaN LARGEST, so least/greatest would
    # clamp NaN to the far corner while numpy maps it to cell 0
    fx = F.nanvl((x - F.lit(grid.x0)) / F.lit(grid.span) * F.lit(float(n)), F.lit(0.0))
    fy = F.nanvl((y - F.lit(grid.y0)) / F.lit(grid.span) * F.lit(float(n)), F.lit(0.0))
    ix = F.least(F.greatest(fx, F.lit(0.0)), F.lit(float(n - 1))).cast("long")
    iy = F.least(F.greatest(fy, F.lit(0.0)), F.lit(float(n - 1))).cast("long")
    return ix, iy


def _compact1by1_expr(v: Column) -> Column:
    """Inverse of _part1by1_expr: gather even bit positions into the
    low 32 bits (same ladder as cellid._compact1by1)."""
    v = v.bitwiseAND(F.lit(0x5555555555555555))
    v = (v.bitwiseOR(F.shiftright(v, 1))).bitwiseAND(F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftright(v, 2))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftright(v, 4))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftright(v, 8))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftright(v, 16))).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return v


def cell_ix_expr(cid: Column) -> Column:
    """ix from a packed cell id (cellid.unpack in Catalyst)."""
    return _compact1by1_expr(F.shiftrightunsigned(cid, 6))


def cell_iy_expr(cid: Column) -> Column:
    """iy from a packed cell id."""
    return _compact1by1_expr(F.shiftrightunsigned(cid, 7))


def cell_level_expr(cid: Column) -> Column:
    """level from a packed cell id."""
    return cid.bitwiseAND(F.lit(0x3F))


def cell_id_expr(
    x: Column, y: Column, level: int, grid: CellGrid, form: str = "table"
) -> Column:
    """Packed Z-order cell id for a point — cellid.pack in Catalyst.

    form="ladder" only for codegen-verified Project/Aggregate stages
    (see the Morton-form module comment); the default table form is
    robust as a join key."""
    if level > MAX_LEVEL:
        raise ValueError(f"cell level {level} > MAX_LEVEL {MAX_LEVEL}")
    ix, iy = cell_xy_expr(x, y, level, grid)
    m = _part1by1_expr(ix, form).bitwiseOR(F.shiftleft(_part1by1_expr(iy, form), 1))
    return F.shiftleft(m, 6).bitwiseOR(F.lit(level))


def env_cells_expr(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, level: int, grid: CellGrid
) -> Column:
    """array<long> of every cell id at `level` touched by the bbox —
    the Catalyst twin of ops.knn._env_cells_udf, built from
    sequence × transform × flatten so the whole cover generation runs
    inside codegen with no python worker.

    Uses the SAME cell_xy_expr as point assignment, so a build point's
    cell is always inside the cover of any envelope containing it
    (self-consistency is what the kNN lower bound needs; mixing float
    op orders across the two sides could drop a boundary point)."""
    if level > MAX_LEVEL:
        raise ValueError(f"cell level {level} > MAX_LEVEL {MAX_LEVEL}")
    ix0, iy0 = cell_xy_expr(xmin, ymin, level, grid)
    ix1, iy1 = cell_xy_expr(xmax, ymax, level, grid)
    # inverted envelopes (all-NaN → 0, or caller-swapped bounds) must
    # not feed sequence() a start > stop
    ix1 = F.greatest(ix0, ix1)
    iy1 = F.greatest(iy0, iy1)

    def pack(ix, iy):
        # ladder on the lambda vars: duplicating a bound leaf is free,
        # while a 256-element array literal inside an interpreted
        # lambda would be re-built per element
        m = _part1by1_ladder_expr(ix).bitwiseOR(F.shiftleft(_part1by1_ladder_expr(iy), 1))
        return F.shiftleft(m, 6).bitwiseOR(F.lit(level))

    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: pack(ix, iy)),
        )
    )


def explode_cover3(
    df,
    xmin: Column,
    ymin: Column,
    xmax: Column,
    ymax: Column,
    level: int,
    grid: CellGrid,
    out_col: str = "__cell",
):
    """df with every column plus `out_col` = one exploded cover cell
    per row, for bboxes KNOWN to span at most 3 cells per axis (true
    whenever width/height ≤ 2 × cell_size, e.g. a point envelope
    expanded by rng with cell_size ≥ rng).  Same cell SET per row as
    `explode(env_cells_expr(...))` — pinned by a property test — but
    ~32× faster on a large side (0.97s vs 31.3s at 20M rows / 174M
    cover cells, local[32]).

    Why a DataFrame helper and not an array expression: every
    expression form measured WORSE than the interpreted HOF cover it
    was meant to replace.  env_cells_expr's sequence × transform ×
    flatten lambdas are interpreted per row (~1.5µs/row); an
    array-of-9-packs generator made the fused Generate stage inline
    the Morton packs into ONE giant produce/consume method that blows
    past HotSpot's DontCompileHugeMethods threshold, so the whole
    stage ran as interpreted bytecode (47-86s for the same 20M rows —
    Project codegen splits expressions into JIT-able methods, Generate
    codegen does not); `array_distinct` dedupe is CodegenFallback and
    re-evaluates everything per row (113s).  The shape that is fast
    keeps the Generate TRIVIAL and the arithmetic in ordinary
    Project/Filter nodes: materialize the four clamped cell indices,
    explode a literal 0..8 grid offset, filter offsets past the range,
    pack the single surviving (ix, iy) per row.

    Order of emitted cells differs from env_cells_expr (grid-offset
    order vs ix-major enumeration); every consumer feeds an unordered
    equi-join, so only the per-row SET matters."""
    if level > MAX_LEVEL:
        raise ValueError(f"cell level {level} > MAX_LEVEL {MAX_LEVEL}")
    ix0, iy0 = cell_xy_expr(xmin, ymin, level, grid)
    ix1, iy1 = cell_xy_expr(xmax, ymax, level, grid)
    step = df.select(
        "*",
        ix0.alias("__cv_ix0"),
        iy0.alias("__cv_iy0"),
        F.greatest(ix0, ix1).alias("__cv_ix1"),
        F.greatest(iy0, iy1).alias("__cv_iy1"),
    ).select("*", F.explode(F.array(*[F.lit(k) for k in range(9)])).alias("__cv_k"))
    ix = F.col("__cv_ix0") + (F.col("__cv_k") % 3)
    iy = F.col("__cv_iy0") + (F.col("__cv_k") / 3).cast("long")
    m = _part1by1_expr(ix).bitwiseOR(F.shiftleft(_part1by1_expr(iy), 1))
    return (
        step.where((ix <= F.col("__cv_ix1")) & (iy <= F.col("__cv_iy1")))
        .select("*", F.shiftleft(m, 6).bitwiseOR(F.lit(level)).alias(out_col))
        .drop("__cv_ix0", "__cv_iy0", "__cv_ix1", "__cv_iy1", "__cv_k")
    )
