"""A25 — H3/S2-style GLOBAL quadtree index, pure native Column math.

The reference's Colombian grid is an S2-style quadtree over a conformal
projection (SURVEY.md §2.A25); no H3/S2 library is installable here, so the
engine exposes the same kernel on a GLOBAL equirectangular lat/lon frame:
level-L cell = y-first Morton interleave of (floor((lat+90)/180·2^L),
floor((lon+180)/360·2^L)), packed into the SAME canonical ``(bits<<6)|nbits``
int64 as Grid A/B cells — so parent/children/contains/interval algebra
(functions.cells_sql) applies unchanged.  Everything is shift/mask Column
arithmetic: whole-stage codegen, no UDF, no projection needed.

API names mirror the h3 surface (latlng_to_cell / cell_to_latlng /
cell_to_parent) to ease migration; semantics are quadtree, documented
deviation per SURVEY.md §7 R5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import cells_sql

MAX_LEVEL = 26  # 2*26+6 pack bits < 63


def _interleave_yx(iy: Column, ix: Column, level: int) -> Column:
    """y-first MSB Morton of two level-bit integers (shared helper)."""
    return cells_sql.interleave_yx_cols(iy, ix, level, level)


def latlng_to_cell(lat: Column, lon: Column, level: int) -> Column:
    """(lat, lon) -> global quadtree cell at ``level``; -1 off-planet/NULL."""
    if not 1 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in 1..{MAX_LEVEL}")
    n = 1 << level
    fy = (lat + F.lit(90.0)) / F.lit(180.0)
    fx = (lon + F.lit(180.0)) / F.lit(360.0)
    iy = F.least(F.floor(fy * n), F.lit(n - 1)).cast("long")  # lat=+90 -> top row
    ix = F.least(F.floor(fx * n), F.lit(n - 1)).cast("long")
    ok = (lat >= -90) & (lat <= 90) & (lon >= -180) & (lon <= 180) \
        & lat.isNotNull() & lon.isNotNull()
    bits = _interleave_yx(iy, ix, level)
    cell = cells_sql.cell_pack(bits, F.lit(2 * level))
    return F.when(ok, cell).otherwise(F.lit(-1))


def _deinterleave(cell: Column, level: int) -> tuple[Column, Column]:
    return cells_sql.deinterleave_yx_cols(cells_sql.cell_bits(cell), level, level)


def cell_to_latlng(cell: Column, level: int) -> tuple[Column, Column]:
    """Cell -> (lat, lon) of the cell CENTER (h3.cell_to_latlng shape).

    NULL for the -1 invalid sentinel (whose bit pattern would otherwise
    decode to the (n-1, n-1) corner — a silent wrong answer)."""
    n = 1 << level
    iy, ix = _deinterleave(cell, level)
    lat = F.when(cell >= 0, (iy.cast("double") + 0.5) / n * 180.0 - 90.0)
    lon = F.when(cell >= 0, (ix.cast("double") + 0.5) / n * 360.0 - 180.0)
    return lat, lon


def cell_to_parent(cell: Column, parent_level: int) -> Column:
    """h3.cell_to_parent equivalent — quadtree prefix truncation."""
    return cells_sql.cell_ancestor_at(cell, 2 * parent_level)


def grid_disk(cell: Column, level: int, ring: int = 1) -> Column:
    """h3.grid_disk equivalent: king-move neighbors + self at ``ring``.

    Native: de-interleave -> (iy±d, ix±d) window with wrap on lon and clamp
    on lat -> re-interleave.  Returns array<long> incl. the cell itself.
    """
    n = 1 << level
    iy, ix = _deinterleave(cell, level)
    out = []
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            ny = iy + dy
            nx = F.pmod(ix + dx, F.lit(n))  # longitude wraps
            valid = (cell >= 0) & (ny >= 0) & (ny < n)
            out.append(F.when(valid, cells_sql.cell_pack(
                _interleave_yx(ny, nx, level), F.lit(2 * level))))
    # array_distinct: at n <= 2*ring+1 the lon wrap folds the window onto
    # itself; h3.grid_disk semantics are a distinct set
    return F.array_distinct(F.filter(F.array(*out), lambda c: c.isNotNull()))
