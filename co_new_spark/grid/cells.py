"""Canonical cell algebra on the packed int64 form ``(bits << 6) | nbits``.

Hierarchy semantics per ``/root/reference/README.md:51,77`` (recursive 4-way
Morton partition; one appended bit = a half-cell split, two = a quadtree
child).  Mixed-precision covers in ``/root/reference/data/citycover.csv``
motivate the interval view: a cell at depth d is the half-open integer range
``[bits << (MAXB-d), (bits+1) << (MAXB-d))`` at a fixed maximum depth MAXB, so
*containment* is a range test and cover joins become prefix equi-joins
(SURVEY.md §2.B8).

All ops are vectorized numpy on int64/uint64 and are also mirrored as native
Spark Column expressions in co_new_spark.functions.cells_sql (shift/mask ops
participate in whole-stage codegen — no UDF needed for hierarchy traversal).
"""

from __future__ import annotations

import numpy as np

from . import grids, morton

U = np.uint64
MAXB = 57  # max bit depth storable: (bits << 6) | nbits fits in int64


def pack(bits, nbits) -> np.ndarray:
    """(bits, nbits) -> canonical signed int64 cell id."""
    bits = np.asarray(bits, dtype=U)
    nbits = np.asarray(nbits, dtype=np.int64)
    out = ((bits << U(6)) | nbits.astype(U)).astype(np.int64)
    return np.where(nbits >= 0, out, np.int64(-1))


def cell_b_from_xy(x, y, rbits: int) -> np.ndarray:
    """EPSG:9377 (x, y) -> Grid B cell at depth 4 + rbits; -1 for non-finite
    or off-grid input.  The one numpy point-to-cell encoder."""
    ok = np.isfinite(x) & np.isfinite(y)
    bits, valid = grids.grid_b_encode_xy(np.where(ok, x, 0.0),
                                         np.where(ok, y, 0.0), rbits)
    return np.where(valid & ok, pack(bits, 4 + rbits), np.int64(-1))


def unpack(cell) -> tuple[np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    return (cell.astype(U) >> U(6)), (cell & np.int64(63))


def depth(cell) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) & np.int64(63)


def parent(cell, k=1) -> np.ndarray:
    """Drop k trailing bits (k=2 = quadtree parent, k=1 = half-cell merge)."""
    bits, nb = unpack(cell)
    k = np.asarray(k, dtype=np.int64)
    nk = np.minimum(np.broadcast_to(k, nb.shape), nb)
    return pack(bits >> nk.astype(U), nb - nk)


def children(cell, k=2) -> np.ndarray:
    """All 2^k children of each cell -> shape (n, 2^k) int64."""
    bits, nb = unpack(cell)
    offs = np.arange(1 << k, dtype=U)
    ch_bits = (bits[:, None] << U(k)) | offs[None, :]
    return pack(ch_bits, (nb + k)[:, None] * np.ones((1, 1 << k), dtype=np.int64))


def contains(anc, desc) -> np.ndarray:
    """True where anc is an ancestor-or-equal of desc (prefix test)."""
    ab, an = unpack(anc)
    db, dn = unpack(desc)
    dk = dn - an
    ok = dk >= 0
    shifted = db >> np.maximum(dk, 0).astype(U)
    return ok & (shifted == ab)


def interval(cell, maxb: int = MAXB) -> tuple[np.ndarray, np.ndarray]:
    """Cell -> half-open [lo, hi) integer range at fixed depth ``maxb``."""
    bits, nb = unpack(cell)
    shift = (maxb - nb).astype(U)
    lo = (bits << shift).astype(np.int64)
    hi = ((bits + U(1)) << shift).astype(np.int64)
    return lo, hi


# ---------------------------------------------------------------------------
# Grid-B global lattice coordinates (for neighbors / ring expansion)
# ---------------------------------------------------------------------------

def cell_b_to_global_ji(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Grid B cell -> (gy, gx, ny, nx): global row/col at the cell's own y/x depth.

    gy = j_l0 * 2^ny + iy_refine (ny = ceil(rbits/2), y-first), similarly gx.
    Returns -1 rows for invalid cells.
    """
    bits, nb = unpack(cell)
    r = nb - 4
    gy = np.full(bits.shape, -1, dtype=np.int64)
    gx = np.full(bits.shape, -1, dtype=np.int64)
    nyv = np.zeros(bits.shape, dtype=np.int64)
    nxv = np.zeros(bits.shape, dtype=np.int64)
    for rv in np.unique(r):
        if rv < 0:
            continue
        m = r == rv
        rv = int(rv)
        digit = (bits[m] >> U(rv)).astype(np.int64)
        ref = bits[m] & ((U(1) << U(rv)) - U(1)) if rv else np.zeros(m.sum(), dtype=U)
        j = grids.L0_J_BY_DIGIT[np.clip(digit, 0, 15)]
        i = grids.L0_I_BY_DIGIT[np.clip(digit, 0, 15)]
        ny, nx = morton.n_first(rv), morton.n_second(rv)
        iy, ix = morton.deinterleave(ref, rv)
        ok = j >= 0
        gy[m] = np.where(ok, j * (1 << ny) + iy.astype(np.int64), -1)
        gx[m] = np.where(ok, i * (1 << nx) + ix.astype(np.int64), -1)
        nyv[m] = ny
        nxv[m] = nx
    return gy, gx, nyv, nxv


def cell_b_from_global_ji(gy, gx, rbits: int) -> np.ndarray:
    """(global row, global col, refinement depth) -> Grid B cell (or -1 off-cover)."""
    gy = np.asarray(gy, dtype=np.int64)
    gx = np.asarray(gx, dtype=np.int64)
    ny, nx = morton.n_first(rbits), morton.n_second(rbits)
    j, iy = gy >> ny, gy & ((1 << ny) - 1)
    i, ix = gx >> nx, gx & ((1 << nx) - 1)
    inb = (i >= 0) & (i < grids.L0_NI) & (j >= 0) & (j < grids.L0_NJ) & (gy >= 0) & (gx >= 0)
    digit = np.where(
        inb, grids.L0_DIGIT_BY_JI[np.clip(j, 0, grids.L0_NJ - 1), np.clip(i, 0, grids.L0_NI - 1)], -1
    )
    ref = morton.interleave(iy.astype(U), ix.astype(U), rbits)
    bits = (np.maximum(digit, 0).astype(U) << U(rbits)) | ref
    out = pack(bits, np.full(gy.shape, 4 + rbits, dtype=np.int64))
    return np.where(inb & (digit >= 0), out, np.int64(-1))


def neighbors_b(cell, ring: int = 1) -> np.ndarray:
    """Grid B king-move neighbors at ring r -> (n, (2r+1)^2 - 1) int64, -1 = off-grid.

    Requires even refinement (square cells).  Used by kNN cell-ring expansion
    (SURVEY.md §2.A17).
    """
    gy, gx, nyv, nxv = cell_b_to_global_ji(cell)
    _, nb = unpack(cell)
    r = nb - 4
    side = 2 * ring + 1
    offs = [(dy, dx) for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)
            if not (dy == 0 and dx == 0)]
    out = np.full((gy.shape[0], len(offs)), -1, dtype=np.int64)
    for rv in np.unique(r):
        if rv < 0 or rv % 2 != 0:
            continue
        m = np.asarray(r == rv)
        for c, (dy, dx) in enumerate(offs):
            out[m, c] = cell_b_from_global_ji(gy[m] + dy, gx[m] + dx, int(rv))
    valid_input = (gy >= 0)
    out[~valid_input, :] = -1
    return out


def cell_b_box(cell) -> tuple[np.ndarray, ...]:
    """Grid B cell -> EPSG:9377 (xmin, ymin, xmax, ymax); NaN for an invalid
    (negative) cell."""
    cell = np.asarray(cell, dtype=np.int64)
    bits, nb = unpack(cell)
    return grids.grid_b_decode_box(bits, np.where(cell < 0, -1, nb))


def cell_b_center(cell) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = cell_b_box(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def area_m2(cell) -> np.ndarray:
    """Exact cell area in m^2 (dx*dy) — st_area for grid cells (SURVEY.md §2.A24)."""
    x0, y0, x1, y1 = cell_b_box(cell)
    return (x1 - x0) * (y1 - y0)


# ---------------------------------------------------------------------------
# String <-> canonical conversions (Grid B / base16h)
# ---------------------------------------------------------------------------

def cell_b_from_code(codes) -> np.ndarray:
    """base16h strings (incl. suffix letters) -> canonical int64; -1 invalid."""
    from .codec import b16h_decode

    bits, nbits = b16h_decode(np.asarray(codes))
    return pack(bits, nbits)


def cell_b_to_code(cell) -> np.ndarray:
    """canonical int64 -> base16h string; '' for invalid (-1)."""
    from .codec import b16h_encode

    cell = np.asarray(cell, dtype=np.int64)
    bits, nb = unpack(np.maximum(cell, 0))
    out = b16h_encode(bits, nb)
    out[cell < 0] = ""
    return out
