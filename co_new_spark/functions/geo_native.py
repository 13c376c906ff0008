"""Whole-stage-codegen (zero-UDF) variants of the geocode hot path.

Two tiers, by float contract:

* ``xy_to_cell_b_native`` — planar (x, y) -> Grid B cell entirely in native
  Columns.  Every operation is IEEE-exact (+, -, *, /, floor, shifts), so it
  is BIT-IDENTICAL to the numpy kernel (grid/grids.grid_b_encode_xy) by
  construction — the same arithmetic the DuckDB oracles already restate
  (queries/sql_grid.l0_case/morton_ref, proven equal to the kernel by every
  green geo_cell_assign-family oracle).  Pytest-gated for exact equality.

* ``tm_forward_native`` / ``encode_b_cell_from_text_native`` — the EPSG:9377
  forward projection (Karney/Krueger series, grid/proj.py) in native
  Columns.  Transcendentals (tan/sinh/atanh/hypot/...) are correctly-rounded
  to ~1 ulp in BOTH numpy (libm) and the JVM (Math.*), but not guaranteed
  identical; a cell can only flip if the projected point lies within ~ulp
  (~1e-9 m) of a 64 m cell boundary — measure ~1e-11 per point.  Parity vs
  the Arrow kernel is pytest-gated (exact equality on the full pages
  fixture); the kernel remains the reference-verified twin
  (gridLib.sql:6-11 golden vectors).

Why: the fused Arrow kernel is fast (one crossing), but a crossing is still
32 python workers, serialization, and GIL-bound regex; the native path keeps
the ENTIRE flagship geocode — regexp_extract -> trig series ->
lattice/Morton bit math — inside one codegen stage, the design rule
README.md states ("the fact table crosses the Python boundary at most once";
here: zero times).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..grid import grids, morton
from ..grid import proj as P
from . import text as tx



def with_tm_forward(df, lat_col: str, lon_col: str,
                    x_col: str = "x", y_col: str = "y"):
    """WGS84/GRS80 degree COLUMNS -> EPSG:9377 (x, y) columns, native.

    STAGED projections on purpose: a single fused Column would inline the
    tau/taup/xi' subtrees at every reference — the series alone references
    xi'/eta' 24 times, so the analysis tree grows multiplicatively (measured:
    driver codegen OOM at 1M rows).  Naming each intermediate keeps every
    subexpression a bound attribute; CollapseProject declines to re-inline
    non-cheap aliases referenced more than once, so codegen sees the same
    small DAG the numpy kernel executes.

    Mirrors grid/proj.forward's op ORDER term-for-term (1.0 + tau*tau,
    2.0 * (j * xi'), series summed before adding xi') so any residual
    difference is a transcendental-ulp, not an algebraic reassociation.
    """
    # one Project per dependency RANK (withColumns, plural): driver planning
    # cost grows with Project count, so intermediates that only depend on
    # earlier ranks share a projection
    t = "__tm_"
    df = df.withColumns({t + "latr": F.radians(F.col(lat_col)),
                         t + "lonr": F.radians(F.col(lon_col) - F.lit(P.LON0))})
    df = df.withColumns({t + "tau": F.tan(F.col(t + "latr")),
                         t + "cosl": F.cos(F.col(t + "lonr")),
                         t + "sinl": F.sin(F.col(t + "lonr"))})
    tau = F.col(t + "tau")
    df = df.withColumns({t + "sq1tau": F.sqrt(F.lit(1.0) + tau * tau)})
    df = df.withColumns({t + "sigma": F.sinh(
        F.lit(P.E) * F.atanh(F.lit(P.E) * tau / F.col(t + "sq1tau")))})
    sigma = F.col(t + "sigma")
    df = df.withColumns({t + "taup": tau * F.sqrt(F.lit(1.0) + sigma * sigma)
                         - sigma * F.col(t + "sq1tau")})
    taup, cosl = F.col(t + "taup"), F.col(t + "cosl")
    df = df.withColumns({
        t + "xip": F.atan2(taup, cosl),
        t + "etap": F.asinh(F.col(t + "sinl") / F.hypot(taup, cosl))})
    xi_p, eta_p = F.col(t + "xip"), F.col(t + "etap")
    terms = {}
    for j in range(1, 7):
        terms[t + f"txi{j}"] = F.lit(2.0) * (F.lit(float(j)) * xi_p)
        terms[t + f"teta{j}"] = F.lit(2.0) * (F.lit(float(j)) * eta_p)
    df = df.withColumns(terms)
    xi_sum, eta_sum = None, None
    for j in range(1, 7):
        a = F.lit(float(P.ALPHA[j - 1]))
        xs = a * (F.sin(F.col(t + f"txi{j}")) * F.cosh(F.col(t + f"teta{j}")))
        es = a * (F.cos(F.col(t + f"txi{j}")) * F.sinh(F.col(t + f"teta{j}")))
        xi_sum = xs if xi_sum is None else xi_sum + xs
        eta_sum = es if eta_sum is None else eta_sum + es
    df = df.withColumns({
        x_col: F.lit(P.FE) + F.lit(P.K0 * P.A_CAP) * (eta_p + eta_sum),
        y_col: F.lit(P.FN) + F.lit(P.K0 * P.A_CAP) * (xi_p + xi_sum)
        - F.lit(P.M0)})
    return df.drop(*[c for c in df.columns if c.startswith(t)])


def _morton_ref_col(iy: Column, ix: Column, r: int) -> Column:
    """Morton interleave (y-first, MSB first) of r bits — the Column twin of
    queries/sql_grid.morton_ref."""
    ny, nx = morton.n_first(r), morton.n_second(r)
    acc = F.lit(0).cast("long")
    for t in range(r):
        if t % 2 == 0:
            b = F.shiftright(iy, ny - 1 - t // 2).bitwiseAND(F.lit(1))
        else:
            b = F.shiftright(ix, nx - 1 - t // 2).bitwiseAND(F.lit(1))
        acc = acc + F.shiftleft(b.cast("long"), r - 1 - t)
    return acc


# flat (j * NI + i) -> digit lookup, -1 holes, as an array literal
_DIGIT_FLAT = [int(grids.L0_DIGIT_BY_JI[j, i])
               for j in range(grids.L0_NJ) for i in range(grids.L0_NI)]


def xy_to_cell_b_native(x: Column, y: Column, rbits: int) -> Column:
    """EPSG:9377 (x, y) -> Grid B cell long, pure codegen (no UDF).

    Bit-identical to grid/grids.grid_b_encode_xy: only IEEE-exact ops.
    -1 for NULL/NaN input, off-matrix points, and ji holes.  Bounds are
    tested on DOUBLES before any cast, so ANSI mode never sees an
    overflowing or NaN cast.
    """
    fi = (x - F.lit(grids.L0_ORIGIN_X)) / F.lit(grids.L0_SIDE)
    fj = (y - F.lit(grids.L0_ORIGIN_Y)) / F.lit(grids.L0_SIDE)
    inb = ((~F.isnan(fi)) & (~F.isnan(fj))
           & (fi >= 0.0) & (fi < float(grids.L0_NI))
           & (fj >= 0.0) & (fj < float(grids.L0_NJ)))

    def _cell() -> Column:
        i = F.floor(fi).cast("long")
        j = F.floor(fj).cast("long")
        digit = F.element_at(F.array(*[F.lit(d) for d in _DIGIT_FLAT]),
                             (j * grids.L0_NI + i + 1).cast("integer"))
        ny, nx = morton.n_first(rbits), morton.n_second(rbits)
        u = F.greatest(fi - i, F.lit(0.0))
        v = F.greatest(fj - j, F.lit(0.0))
        ix = F.least(F.floor(u * F.lit(float(1 << nx))).cast("long"),
                     F.lit((1 << nx) - 1))
        iy = F.least(F.floor(v * F.lit(float(1 << ny))).cast("long"),
                     F.lit((1 << ny) - 1))
        ref = _morton_ref_col(iy, ix, rbits)
        bits = F.shiftleft(digit.cast("long"), rbits).bitwiseOR(ref)
        cell = F.shiftleft(bits, 6).bitwiseOR(F.lit(4 + rbits))
        return F.when(digit >= 0, cell).otherwise(F.lit(-1))

    return F.coalesce(F.when(inb, _cell()), F.lit(-1)).cast("long")


def with_cell_from_xy(df, x_col: str, y_col: str, rbits: int,
                      cell_col: str = "cell"):
    """Staged-projection twin of xy_to_cell_b_native, for x/y columns that
    are themselves deep alias chains (e.g. the TM output).  The single-
    Column form duplicates the fi/u/ix subtrees at every Morton reference;
    over plain source columns that's a few hundred nodes and fine, but
    stacked on the 25-projection TM chain the optimizer's repeated walks go
    superlinear (measured: 27 s at rbits=4 -> heap OOM at rbits=26).  Naming
    fi/u/ix/iy once collapses every reference to a bound attribute."""
    g = "__xy_"
    df = df.withColumns({
        g + "fi": (F.col(x_col) - F.lit(grids.L0_ORIGIN_X))
        / F.lit(grids.L0_SIDE),
        g + "fj": (F.col(y_col) - F.lit(grids.L0_ORIGIN_Y))
        / F.lit(grids.L0_SIDE)})
    fi, fj = F.col(g + "fi"), F.col(g + "fj")
    df = df.withColumns({g + "inb": (~F.isnan(fi)) & (~F.isnan(fj))
                         & (fi >= 0.0) & (fi < float(grids.L0_NI))
                         & (fj >= 0.0) & (fj < float(grids.L0_NJ))})
    inb = F.col(g + "inb")
    # floors guarded so ANSI never casts NaN/huge doubles
    df = df.withColumns({g + "i": F.when(inb, F.floor(fi).cast("long")),
                         g + "j": F.when(inb, F.floor(fj).cast("long"))})
    i, j = F.col(g + "i"), F.col(g + "j")
    ny, nx = morton.n_first(rbits), morton.n_second(rbits)
    df = df.withColumns({
        g + "digit": F.when(inb, F.element_at(
            F.array(*[F.lit(d) for d in _DIGIT_FLAT]),
            (j * grids.L0_NI + i + 1).cast("integer"))),
        g + "ix": F.when(inb, F.least(
            F.floor(F.greatest(fi - i, F.lit(0.0)) * F.lit(float(1 << nx)))
            .cast("long"), F.lit((1 << nx) - 1))),
        g + "iy": F.when(inb, F.least(
            F.floor(F.greatest(fj - j, F.lit(0.0)) * F.lit(float(1 << ny)))
            .cast("long"), F.lit((1 << ny) - 1)))})
    df = df.withColumns({g + "ref": _morton_ref_col(
        F.col(g + "iy"), F.col(g + "ix"), rbits)})
    digit = F.col(g + "digit")
    bits = F.shiftleft(digit.cast("long"), rbits).bitwiseOR(F.col(g + "ref"))
    cell = F.shiftleft(bits, 6).bitwiseOR(F.lit(4 + rbits))
    df = df.withColumns({
        cell_col:
        F.coalesce(F.when(inb & (digit >= 0), cell), F.lit(-1)).cast("long")})
    return df.drop(*[c for c in df.columns if c.startswith(g)])


def pushdown_fence(col: Column) -> Column:
    """Identity wrapper that stops predicate pushdown through the column.

    Catalyst's filter pushdown is NON-excludable and substitutes the
    predicate transitively through every projection it crosses; over this
    module's ~35-projection scalar chain the repeated inlining of
    multi-referenced subtrees is EXPONENTIAL (measured: an 8.6 MB filter
    expression at rbits=4, driver OOM at rbits=26).  Adding
    ``spark_partition_id() * 0`` makes the output expression formally
    non-deterministic — a boundary no filter may cross — while provably
    evaluating to the input (Spark has no x*0 fold, precisely because it
    would be unsound for the general case).  The fence also ends up in the
    same whole-stage-codegen stage, so it costs one integer multiply-add."""
    return col + F.shiftleft(F.spark_partition_id().cast("long"), 1) * F.lit(0)


def with_cell_from_text(df, text_col: str, rbits: int,
                        cell_col: str = "cell"):
    """The flagship kernel with ZERO Python crossings: geoparse
    (regexp_extract, same single-source grammar as the Arrow path) ->
    native TM forward -> native lattice/Morton encode, as staged
    projections (see with_tm_forward for why not one Column).  Adds
    ``cell_col`` (-1 where no coordinates parse or off-grid) and drops the
    intermediates.  The cell column carries a pushdown_fence so downstream
    filters/joins evaluate it ONCE here instead of substituting the whole
    trig chain into their predicates."""
    df = df.withColumn("__gn_lat", tx.parse_lat(F.col(text_col))) \
           .withColumn("__gn_lon", tx.parse_lon(F.col(text_col)))
    df = with_tm_forward(df, "__gn_lat", "__gn_lon", "__gn_x", "__gn_y")
    df = with_cell_from_xy(df, "__gn_x", "__gn_y", rbits, cell_col)
    df = df.withColumn(cell_col, pushdown_fence(F.col(cell_col)))
    return df.drop("__gn_lat", "__gn_lon", "__gn_x", "__gn_y")
