"""Cell-hierarchy algebra as **native Spark Column expressions**.

Mirrors co_new_spark.grid.cells on the packed int64 form ``(bits << 6) |
nbits`` using only shift/mask arithmetic, so parent / children / containment /
interval ops stay inside whole-stage codegen — no Python boundary for
hierarchy traversal, rollups, or the cover interval join (SURVEY.md §2.A13-15,
§4 "1-D code algebra").

Semantics source: /root/reference/README.md:51,77 (recursive Morton 4-way
partition) and the mixed-precision covers of /root/reference/data/citycover.csv.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..grid.codec import B32NVU_ALPHABET

MAXB = 57


def _shiftleft(col: Column, n) -> Column:
    """shiftleft with a Column-valued distance (SQL ShiftLeft accepts expr)."""
    return F.call_function("shiftleft", col, n if isinstance(n, Column) else F.lit(n))


def _shiftright(col: Column, n) -> Column:
    return F.call_function("shiftright", col, n if isinstance(n, Column) else F.lit(n))


def cell_depth(cell: Column) -> Column:
    """Bit depth of a packed cell id."""
    return cell.bitwiseAND(F.lit(63))


def cell_bits(cell: Column) -> Column:
    return _shiftright(cell, 6)


def cell_low_bits(cell: Column, n) -> Column:
    """The last ``n`` path bits of a cell: the suffix a short code encodes
    below its cover prefix."""
    return cell_bits(cell).bitwiseAND(_shiftleft(F.lit(1).cast("long"), n) - 1)


def cell_pack(bits: Column, nbits: Column) -> Column:
    return _shiftleft(bits, 6).bitwiseOR(nbits)


def cell_parent(cell: Column, k: int = 2) -> Column:
    """Ancestor k bits up (k=2 = quadtree parent); invalid (-1) propagates."""
    nb = cell_depth(cell)
    up = cell_pack(_shiftright(cell_bits(cell), k), nb - k)
    return F.when((cell >= 0) & (nb >= k), up).otherwise(F.lit(-1))


def cell_ancestor_at(cell: Column, depth) -> Column:
    """Ancestor at an absolute bit depth (e.g. depth 4 = the Grid B L0 cell)."""
    depth = depth if isinstance(depth, Column) else F.lit(depth)
    nb = cell_depth(cell)
    up = cell_pack(_shiftright(cell_bits(cell), nb - depth), depth)
    return F.when((cell >= 0) & (nb >= depth), up).otherwise(F.lit(-1))


def cell_interval(cell: Column, maxb: int = MAXB) -> tuple[Column, Column]:
    """Half-open [lo, hi) leaf-integer range at fixed depth ``maxb``.

    Containment then is ``anc.lo <= desc.lo < anc.hi`` — the rewrite that
    turns cover containment into sortable 1-D ranges.
    """
    bits = cell_bits(cell)
    shift = F.lit(maxb) - cell_depth(cell)
    lo = _shiftleft(bits, shift)
    hi = _shiftleft(bits + F.lit(1), shift)
    return lo, hi


def cell_contains(anc: Column, desc: Column) -> Column:
    """Prefix containment: anc is ancestor-or-equal of desc (native codegen)."""
    dk = cell_depth(desc) - cell_depth(anc)
    return (anc >= 0) & (desc >= 0) & (dk >= 0) & (
        _shiftright(cell_bits(desc), dk) == cell_bits(anc)
    )


def cell_children(cell: Column, k: int = 2) -> Column:
    """Array of the 2^k children (native: sequence + transform, no shuffle)."""
    bits = cell_bits(cell)
    nb = cell_depth(cell)
    return F.transform(
        F.sequence(F.lit(0), F.lit((1 << k) - 1)),
        lambda off: cell_pack(_shiftleft(bits, k).bitwiseOR(off), nb + F.lit(k)),
    )


def interleave_yx_cols(iy: Column, ix: Column, ny: int, nx: int) -> Column:
    """y-first MSB Morton interleave of (iy: ny bits, ix: nx bits) as native
    shifts — the ONE column-level implementation (mirrors grid/morton.py;
    shared by global_grid and the tile lattice algebra)."""
    r = ny + nx
    out = F.lit(0).cast("long")
    for t in range(r):
        if t % 2 == 0:
            src, k = iy, ny - 1 - t // 2
        else:
            src, k = ix, nx - 1 - t // 2
        b = F.shiftrightunsigned(src, k).bitwiseAND(F.lit(1)).cast("long")
        out = out.bitwiseOR(F.shiftleft(b, r - 1 - t))
    return out


def deinterleave_yx_cols(bits: Column, ny: int, nx: int) -> tuple[Column, Column]:
    """Inverse of interleave_yx_cols: stream bits -> (iy, ix)."""
    r = ny + nx
    iy = F.lit(0).cast("long")
    ix = F.lit(0).cast("long")
    for t in range(r):
        b = F.shiftrightunsigned(bits, r - 1 - t).bitwiseAND(F.lit(1)).cast("long")
        if t % 2 == 0:
            iy = iy.bitwiseOR(F.shiftleft(b, ny - 1 - t // 2))
        else:
            ix = ix.bitwiseOR(F.shiftleft(b, nx - 1 - t // 2))
    return iy, ix


def with_hilbert_index(df, gy: Column, gx: Column, order: int,
                       out: str = "hd"):
    """Append the Hilbert index of lattice coords on the 2^order grid as
    column ``out`` — native arithmetic only (whole-stage codegen), one
    narrow projection per curve level (a single Column expression would
    nest the rot-swap recurrence exponentially: each level references the
    previous x AND y twice, so per-level aliased projections keep the plan
    linear in ``order``).

    The engine's answer to the reference's open decision #6 (Morton vs
    Hilbert, README.md "Decisiones abiertas"): Morton stays the adopted
    default; this lets a Hilbert ordering be computed/ordered on without
    leaving the JVM.  Bit-exact vs grid/hilbert.py (numpy) — gated in
    tests/test_cover_sql.py.
    """
    n = 1 << order
    df = df.withColumn("__hx", gx.cast("long")) \
           .withColumn("__hy", gy.cast("long")) \
           .withColumn(out, F.lit(0).cast("long"))
    s = n >> 1
    while s > 0:
        x, y = F.col("__hx"), F.col("__hy")
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0).cast("long")
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0).cast("long")
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = F.when(flip, F.lit(n - 1) - x).otherwise(x)
        y_f = F.when(flip, F.lit(n - 1) - y).otherwise(y)
        df = df.withColumns({
            out: F.col(out) + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(ry),
            "__hx": F.when(swap, y_f).otherwise(x_f),
            "__hy": F.when(swap, x_f).otherwise(y_f),
        })
        s >>= 1
    return df.drop("__hx", "__hy")


def cell_l0_digit(cell: Column) -> Column:
    """Grid B: the leading 4 bits = L0 digit value (0..15); -1 if too shallow."""
    nb = cell_depth(cell)
    return F.when(
        (cell >= 0) & (nb >= 4), _shiftright(cell_bits(cell), nb - F.lit(4))
    ).otherwise(F.lit(-1))


def b32_digit(v: Column, alphabet: str = B32NVU_ALPHABET) -> Column:
    """The ``alphabet`` character (base32nvu by default) of the 5-bit value
    ``v``: one native substring lookup, no UDF."""
    return F.substring(F.lit(alphabet), v.cast("int") + 1, 1)
