"""THE single source for grid-spec fragments used in DuckDB oracle SQL.

Every oracle that maps points to Grid B cells (L0 digit lookup + y-first MSB
Morton refinement, the reference's conf.yaml:21-26 and README.md:51) does it
through ``cells_cte``: the one SQL restatement of grids.grid_b_encode_xy,
mirroring the one numpy encoder (grid/cells.cell_b_from_xy).  Its two parts,
``l0_case`` and ``morton_ref``, are the one textual implementation of the bit
convention; the numpy twin is grid/morton.py and the Column twin
functions/cells_sql.interleave_yx_cols.

The grid's coordinates below L0 form one global lattice, gi = i * 2^nx + ix
and gj = j * 2^ny + iy.  ``cells_cte`` outputs (gi, gj) and ``lattice_cell``
maps a lattice slot back to its cell: together they are the one SQL
restatement of that lattice, read by every oracle that builds rasters, king
neighbourhoods or density graphs; ``KING`` is the 3x3 offset table those
oracles cross join to step on it.

The cell codes and the L0 digit inverse are restated here too, each table
built from the spec constants of grid/codec.py and grid/grids.py:
``b16h_code`` is the base16h encode (codec.b16h_encode), ``b16h_suffix``
and ``hex_digit`` its decode, ``b32_code`` the base32 encode in either
alphabet (codec.b32nvu_encode), and ``l0_j_case`` / ``l0_i_case`` map an L0
digit back to its (j, i), the inverse of ``l0_case``.  ``dbl`` writes a
DOUBLE literal.
"""

from __future__ import annotations

from collections.abc import Sequence

from ..grid import codec, grids

_HEX = "".join(codec.HEX_CHARS)
# base16h suffix letters by leftover-bit count, in value order
_B16H_LETTERS = {
    n: "".join(sorted((c for c, (k, _) in codec.B16H_SUFFIX.items() if k == n),
                      key=lambda c: codec.B16H_SUFFIX[c][1]))
    for n in (1, 2, 3)}


def dbl(v: float) -> str:
    """Float literal as DOUBLE (DuckDB parses bare decimals as DECIMAL)."""
    return f"CAST({v!r} AS DOUBLE)"


def l0_case(j: str = "j", i: str = "i") -> str:
    """SQL CASE for the configured ji -> base16h digit map (conf.yaml:24-26)."""
    return "CASE " + " ".join(
        f"WHEN {j} = {jj} AND {i} = {ii} THEN {d}"
        for (jj, ii), d in sorted(grids._L0_JI_TO_DIGIT.items())  # noqa: SLF001
    ) + " ELSE -1 END"


def _l0_axis_case(d: str, axis: int) -> str:
    return "CASE " + " ".join(
        f"WHEN {d} = {dd} THEN {ji[axis]}"
        for ji, dd in sorted(grids._L0_JI_TO_DIGIT.items())  # noqa: SLF001
    ) + " ELSE -1 END"


def l0_j_case(d: str = "digit") -> str:
    """SQL CASE for L0 digit -> row j, the inverse of l0_case (-1 if unused)."""
    return _l0_axis_case(d, 0)


def l0_i_case(d: str = "digit") -> str:
    """SQL CASE for L0 digit -> column i, the inverse of l0_case (-1 if unused)."""
    return _l0_axis_case(d, 1)


def b16h_code(bits: str, nbits) -> str:
    """SQL base16h code of the low ``nbits`` bits of ``bits``, as
    codec.b16h_encode: lowercase hex for each whole 4-bit group, then the
    suffix letter (G/Q, H/M/R/V, J..Z) of the 1-3 leftover bits.  ``nbits``
    is an int or a SQL expression."""
    b, n = f"({bits})", f"({nbits})"
    sfx = " ".join(
        f"WHEN {k} THEN substring('{s}', CAST(({b} & {len(s) - 1}) AS INT) + 1, 1)"
        for k, s in _B16H_LETTERS.items())
    return (f"(lower(lpad(to_hex({b} >> ({n} % 4)), CAST({n} // 4 AS INTEGER), '0'))"
            f" || CASE {n} % 4 WHEN 0 THEN '' {sfx} END)")


def b16h_suffix(ch: str) -> tuple[str, str]:
    """SQL CASEs reading the last character ``ch`` of a base16h code: the
    leftover-bit count its suffix letter carries and their value, both 0
    for a hex digit."""
    nbits, value = (f"CASE {ch} " + " ".join(
        f"WHEN '{c}' THEN {nv[k]}" for c, nv in codec.B16H_SUFFIX.items()
    ) + " ELSE 0 END" for k in (0, 1))
    return nbits, value


def hex_digit(ch: str) -> str:
    """SQL BIGINT value of the base16h hex digit ``ch``."""
    return f"CAST(strpos('{_HEX}', {ch}) - 1 AS BIGINT)"


def b32_code(bits: str, nbits, alphabet: str = codec.B32NVU_ALPHABET) -> str:
    """SQL base32 code of the low ``nbits`` bits of ``bits`` (a multiple of
    5), as codec.b32nvu_encode: one ``alphabet`` character per 5 bits, MSB
    first.  ``nbits`` is an int or a SQL expression; ``alphabet`` is
    base32nvu or codec.GEOHASH_ALPHABET."""
    b, n = f"({bits})", f"({nbits})"
    return (f"coalesce(array_to_string(list_transform(range({n} // 5), i -> substring("
            f"'{alphabet}', CAST((({b} >> (5 * ({n} // 5 - 1 - i))) & 31) AS INT)"
            f" + 1, 1)), ''), '')")


def morton_deref_y(r: int, bits: str = "rb") -> str:
    """Inverse of morton_ref, y axis: refinement bits -> iy ((r+1)//2 bits)."""
    ny = (r + 1) // 2
    terms = [f"((({bits} >> {r - 1 - t}) & 1) << {ny - 1 - t // 2})"
             for t in range(0, r, 2)]
    return "(" + " + ".join(terms) + ")" if terms else "0"


def morton_deref_x(r: int, bits: str = "rb") -> str:
    """Inverse of morton_ref, x axis: refinement bits -> ix (r//2 bits)."""
    nx = r // 2
    terms = [f"((({bits} >> {r - 1 - t}) & 1) << {nx - 1 - (t - 1) // 2})"
             for t in range(1, r, 2)]
    return "(" + " + ".join(terms) + ")" if terms else "0"


def morton_ref(r: int, iy: str = "iy", ix: str = "ix") -> str:
    """Morton interleave (y-first, MSB first) of r total bits as SQL."""
    if r == 0:
        return "0"
    ny, nx = (r + 1) // 2, r // 2
    terms = []
    for t in range(r):
        if t % 2 == 0:
            terms.append(f"((({iy} >> {ny - 1 - t // 2}) & 1) << {r - 1 - t})")
        else:
            terms.append(f"((({ix} >> {nx - 1 - t // 2}) & 1) << {r - 1 - t})")
    return "(" + " + ".join(terms) + ")"


# The 3x3 king-move offsets (di, dj) in {-1, 0, 1}^2, self included, as a
# FROM item: ``occ CROSS JOIN {KING} d`` steps each row to its ring-1 slots.
KING = ("(SELECT di, dj FROM (SELECT unnest(range(-1, 2)) AS di),"
        " (SELECT unnest(range(-1, 2)) AS dj))")


def lattice_cell(gi: str, gj: str, r: int) -> str:
    """Inverse of cells_cte's (gi, gj): the depth-(4 + r) cell of the
    global lattice slot (gi, gj) as SQL; -1 where gi or gj is negative or
    NULL, outside the 4x5 matrix, or on an uncovered ji cell.  The
    arguments may be compound expressions (``occ.gi + d.di``): each is
    parenthesised before ``//`` and ``%`` bind to it."""
    ny, nx = (r + 1) // 2, r // 2
    gi, gj = f"({gi})", f"({gj})"
    digit = l0_case(f"{gj} // {1 << ny}", f"{gi} // {1 << nx}")
    ref = morton_ref(r, f"{gj} % {1 << ny}", f"{gi} % {1 << nx}")
    return (f"CASE WHEN {gi} >= 0 AND {gj} >= 0 AND {digit} >= 0 "
            f"THEN ({digit} * {1 << r} + {ref}) * 64 + {4 + r} ELSE -1 END")


def cells_cte(src: str, r: int, carry: Sequence[str] = (),
              name: str = "cells") -> str:
    """CTE ``name`` encoding each (x, y) row of the SELECT ``src`` to its
    depth-(4 + r) packed Grid B cell — grids.grid_b_encode_xy as SQL.

    Output columns: ``carry``, x, y, the L0 lattice (i, j), digit, the
    refinement lattice (ix, iy), the global lattice (gi, gj) and cell.
    Every source row is kept: where the kernel gives -1 (uncovered ji cell,
    outside the 4x5 matrix, non-finite input) digit and cell are -1, and
    i, j, ix, iy, gi, gj are NULL for rows outside the matrix.  The matrix
    bounds are tested on the DOUBLE (x - X0) / SIDE that the kernel's fi/fj
    check uses, before any BIGINT cast: an extreme or NaN coordinate yields
    -1, never a cast error, and both engines round identically at the
    matrix edge.  Inside the matrix fi - i is exact and below 1, so
    ix < 2^(r//2) and iy < 2^((r+1)//2) hold without the kernel's clip.
    SIDE / 2^k is an exact double, so gi also equals
    floor((x - X0) / (SIDE / 2^nx)) (gj likewise with ny).
    The CTE is MATERIALIZED: otherwise DuckDB pushes a caller's filter on
    cell down through the nested SELECTs by inlining each one, which
    multiplies the expression (DuckDB 1.0, 4 cores: 0.42 s instead of
    0.04 s to encode 10k events).
    """
    ny, nx = (r + 1) // 2, r // 2
    keep = "".join(f"{c}, " for c in carry)
    x0, y0, side = grids.L0_ORIGIN_X, grids.L0_ORIGIN_Y, grids.L0_SIDE
    return f"""
{name} AS MATERIALIZED (
  SELECT {keep}x, y, i, j, digit, ix, iy,
         i * {1 << nx} + ix AS gi, j * {1 << ny} + iy AS gj,
         CASE WHEN digit >= 0
              THEN (digit * {1 << r} + {morton_ref(r)}) * 64 + {4 + r}
              ELSE -1 END AS cell
  FROM (
    SELECT {keep}x, y, i, j, {l0_case()} AS digit,
           CAST(floor((fi - i) * {1 << nx}) AS BIGINT) AS ix,
           CAST(floor((fj - j) * {1 << ny}) AS BIGINT) AS iy
    FROM (
      SELECT {keep}x, y, fi, fj,
             CASE WHEN ok THEN CAST(floor(fi) AS BIGINT) END AS i,
             CASE WHEN ok THEN CAST(floor(fj) AS BIGINT) END AS j
      FROM (
        SELECT {keep}x, y, fi, fj,
               isfinite(fi) AND isfinite(fj)
               AND fi >= 0.0 AND fi < {grids.L0_NI}.0
               AND fj >= 0.0 AND fj < {grids.L0_NJ}.0 AS ok
        FROM (SELECT {keep}x, y, (x - {x0!r}) / {side!r} AS fi,
                     (y - {y0!r}) / {side!r} AS fj
              FROM ({src}))))))"""
