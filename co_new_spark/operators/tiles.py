"""Raster XYZ tile assignment over the Grid B plane (A26) — pure native math.

Tiles are the XYZ/TMS convention applied to the grid's bounding matrix in
EPSG:9377: at zoom z the bbox (origin /root/reference/conf.yaml:22, extent
4x5 L0 cells) splits into 2^z x 2^z tiles; y counts from the TOP row (XYZ).
tile <-> cell relations reduce to prefix algebra on the shared lattice.
All column expressions — participates in whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import cells_sql
from ..grid import grids

X0 = grids.L0_ORIGIN_X
Y0 = grids.L0_ORIGIN_Y
X_EXTENT = grids.L0_NI * grids.L0_SIDE  # 2,097,152 m
Y_EXTENT = grids.L0_NJ * grids.L0_SIDE  # 2,621,440 m


def tile_x(x: Column, z: int) -> Column:
    return F.floor((x - F.lit(X0)) / F.lit(X_EXTENT / (1 << z))).cast("long")


def tile_y(y: Column, z: int) -> Column:
    """XYZ convention: y=0 is the TOP tile row."""
    return F.floor((F.lit(Y0 + Y_EXTENT) - y) / F.lit(Y_EXTENT / (1 << z))).cast("long")


def tile_id(x: Column, y: Column, z: int) -> Column:
    """Row-major tile id at zoom z; NULL outside the grid bbox."""
    tx, ty = tile_x(x, z), tile_y(y, z)
    ok = (tx >= 0) & (tx < (1 << z)) & (ty >= 0) & (ty < (1 << z))
    return F.when(ok, ty * (1 << z) + tx)


def grid_b_global_ji(cell: Column, depth: int) -> tuple[Column, Column]:
    """Grid B cell (depth = 4+r, even r) -> (gy, gx) global lattice coords,
    entirely native: digit -> (j, i) via literal arrays, refinement bits
    de-interleaved with shifts (y-first Morton, MSB first).

    Even refinement only (square cells); half-bit (odd-r) cells would need
    the rectangular n_first/n_second split — fail loud rather than mis-tile.
    """
    r = depth - 4
    if r < 0 or r % 2:
        raise ValueError(f"cell_to_tile/tile_to_cells need even refinement, got depth={depth}")
    ny = nx = r // 2
    bits = F.shiftright(cell, 6)
    digit = F.shiftright(bits, r)
    ref = bits.bitwiseAND(F.lit((1 << r) - 1)) if r else F.lit(0)
    jarr = F.array(*[F.lit(int(v)) for v in grids.L0_J_BY_DIGIT])
    iarr = F.array(*[F.lit(int(v)) for v in grids.L0_I_BY_DIGIT])
    j = F.element_at(jarr, (digit + 1).cast("int"))
    i = F.element_at(iarr, (digit + 1).cast("int"))
    iy, ix = cells_sql.deinterleave_yx_cols(ref, ny, nx)
    return j * (1 << ny) + iy, i * (1 << nx) + ix


def cell_to_tile(cell: Column, depth: int, z: int) -> Column:
    """A26: Grid B cell -> containing XYZ tile id at zoom z (via cell center,
    all codegen arithmetic — no UDF).  NULL for invalid cells."""
    side = grids.L0_SIDE / (1 << (depth - 4) // 2)
    gy, gx = grid_b_global_ji(cell, depth)
    cx = F.lit(X0) + (gx.cast("double") + 0.5) * F.lit(side)
    cy = F.lit(Y0) + (gy.cast("double") + 0.5) * F.lit(side)
    return F.when(cell >= 0, tile_id(cx, cy, z))


def tile_to_cells(tile: Column, z: int, depth: int) -> Column:
    """A26 inverse: XYZ tile -> array of the depth-``depth`` Grid B cells
    whose centers fall inside the tile (cells off the 16-cell cover excluded).

    Native: tile -> planar extent -> lattice index window -> sequence x
    sequence -> re-interleave.  Callers explode the array for tile joins.
    """
    r = depth - 4
    if r < 0 or r % 2:
        raise ValueError(f"cell_to_tile/tile_to_cells need even refinement, got depth={depth}")
    ny = nx = r // 2
    side = grids.L0_SIDE / (1 << ny)
    n = 1 << z
    tx = F.pmod(tile, F.lit(n))
    ty = F.floor(tile / n).cast("long")
    x0 = F.lit(X0) + tx.cast("double") * F.lit(X_EXTENT / n)
    x1 = x0 + F.lit(X_EXTENT / n)
    y1 = F.lit(Y0 + Y_EXTENT) - ty.cast("double") * F.lit(Y_EXTENT / n)
    y0 = y1 - F.lit(Y_EXTENT / n)
    # windows matching tile_x/tile_y EXACTLY so an edge-aligned cell center
    # lands in precisely one tile:
    #   x: tile_x = floor((cx-X0)/tw)  -> cx in [lo, hi)   (low incl, high strict)
    #   y: tile_y = floor((TOP-cy)/th) -> cy in (lo, hi]   (low strict, high incl)
    gx0 = F.greatest(F.ceil((x0 - F.lit(X0)) / F.lit(side) - 0.5), F.lit(0)).cast("long")
    gx1 = F.least(F.ceil((x1 - F.lit(X0)) / F.lit(side) - 0.5) - 1,
                  F.lit(grids.L0_NI * (1 << nx) - 1)).cast("long")
    gy0 = F.greatest(F.floor((y0 - F.lit(Y0)) / F.lit(side) - 0.5) + 1, F.lit(0)).cast("long")
    gy1 = F.least(F.floor((y1 - F.lit(Y0)) / F.lit(side) - 0.5),
                  F.lit(grids.L0_NJ * (1 << ny) - 1)).cast("long")
    digit_arr = F.array(*[F.lit(int(v)) for row in grids.L0_DIGIT_BY_JI
                          for v in row])  # row-major (j, i)

    def _cell(gy, gx):
        j = F.floor(gy / (1 << ny)).cast("long")
        i = F.floor(gx / (1 << nx)).cast("long")
        iy = gy.bitwiseAND(F.lit((1 << ny) - 1))
        ix = gx.bitwiseAND(F.lit((1 << nx) - 1))
        digit = F.element_at(digit_arr, (j * grids.L0_NI + i + 1).cast("int"))
        ref = cells_sql.interleave_yx_cols(iy, ix, ny, nx)
        bits = F.shiftleft(digit.cast("long"), r).bitwiseOR(ref)
        return F.when(digit >= 0, F.shiftleft(bits, 6).bitwiseOR(F.lit(depth)))

    # F.sequence DESCENDS when start > stop — an empty window must yield an
    # empty array, not a reversed walk off the lattice
    empty = F.array().cast("array<bigint>")
    seq_y = F.when(gy0 <= gy1, F.sequence(gy0, gy1)).otherwise(empty)
    seq_x = F.when(gx0 <= gx1, F.sequence(gx0, gx1)).otherwise(empty)
    pairs = F.flatten(F.transform(
        seq_y, lambda gy: F.transform(seq_x, lambda gx: _cell(gy, gx)),
    ))
    return F.filter(pairs, lambda c: c.isNotNull())


def tile_quadkey_num(x: Column, y: Column, z: int) -> Column:
    """Bing-style quadkey as an integer: sum over levels of digit*4^k.

    digit_k = 2*bit_k(ty) + bit_k(tx), k from the top zoom bit down.
    """
    tx, ty = tile_x(x, z), tile_y(y, z)
    out = F.lit(0).cast("long")
    for k in range(z - 1, -1, -1):
        digit = (
            F.shiftrightunsigned(ty, k).bitwiseAND(F.lit(1)) * 2
            + F.shiftrightunsigned(tx, k).bitwiseAND(F.lit(1))
        )
        out = out * 4 + digit
    ok = (tx >= 0) & (tx < (1 << z)) & (ty >= 0) & (ty < (1 << z))
    return F.when(ok, out)
