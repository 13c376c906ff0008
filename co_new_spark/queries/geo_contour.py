"""Marching-squares iso-contour extraction over the density raster
(``geo_contour``) — the raster->vector operation the tile family lacked:
geo_cell_to_tile vectorizes CELLS, this vectorizes the BOUNDARY of a
density region (choropleth outlines, hotspot isolines).

Algorithm (public, textbook marching squares): threshold the occupied-cell
raster (inside = count >= T), then every 2x2 corner block maps through the
16-entry case table to 0-2 contour segments whose endpoints are edge
midpoints.  Coordinates are DOUBLED lattice indices so midpoints stay exact
integers (corner (gi, gj) -> (2gi, 2gj), bottom-edge midpoint ->
(2bi+1, 2bj)) — no 0.5s, hash-exact cross-engine.

Block assembly is the interesting distributed shape: instead of 2-D lag
windows or a 4-way self-join, every INSIDE cell explodes to the <= 4 blocks
it corners, carrying its corner bit (BL=1, BR=2, TL=4, TR=8); one groupBy
block sums the bits into the case index.  Only blocks touching an inside
cell ever materialize (case 0 never exists), the explosion is a fixed 4x on
the already-aggregated RASTER (not the fact table — the only fact-sized op
is the one points->cells count), and the aggregation is map-side combined.
Implicit zero-padding falls out: boundary-extending blocks appear with
partial bits, so every contour CLOSES — each doubled-lattice endpoint is
shared by exactly two segments, a pytest-gated topology invariant.

The case table is generated programmatically (edge crossed iff its corners
differ; 2 crossings pair uniquely; the two 4-crossing diagonal cases use
the FIXED pairing (left+bottom, right+top), documented in _case_rows) and
single-sourced: the engine broadcasts it as a 16-case dim DataFrame, the
oracle inlines the same rows as a VALUES list.  Segments are canonicalized
endpoint-lex in the table itself, so both engines emit identical tuples.

Scale notes (100 TB): one fact aggregate, then everything is raster-sized;
the case join broadcasts 20 rows.  The oracle restates raster, block
assembly, and the case join in SQL over the same lattice CTEs the other
raster entries use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import grids
from .geospatial import _EVENT_XY, _event_points
from .sql_grid import cells_cte

_CT_RBITS = 6     # 8x8 refinement below L0 -> 65,536 m cells
_CT_T = 2         # density threshold: inside = count >= T
_CT_EVENTS = int(os.environ.get("CO_CT_EVENTS", "4000"))

_CT_NSIDE = 1 << (_CT_RBITS // 2)
_CT_S = grids.L0_SIDE / _CT_NSIDE

# edge midpoints in doubled block-relative coords
_E_BOTTOM, _E_RIGHT, _E_TOP, _E_LEFT = (1, 0), (2, 1), (1, 2), (0, 1)


def _case_rows() -> list[tuple[int, int, int, int, int]]:
    """(case, x1, y1, x2, y2) segment rows for all 16 corner cases.
    Edge crossed iff its two corners differ; 2 crossings -> the unique
    segment; the two diagonal cases (BL+TR / BR+TL inside) cross all four
    edges and use the FIXED pairing (left+bottom), (right+top) — the
    standard no-decider marching-squares convention, applied identically
    to both diagonals so the rule is orientation-free."""
    rows = []
    for case in range(16):
        bl, br = case & 1, (case >> 1) & 1
        tl, tr = (case >> 2) & 1, (case >> 3) & 1
        edges = [(bl != br, _E_BOTTOM), (br != tr, _E_RIGHT),
                 (tl != tr, _E_TOP), (bl != tl, _E_LEFT)]
        crossed = [m for hit, m in edges if hit]
        if len(crossed) == 2:
            segs = [(crossed[0], crossed[1])]
        elif len(crossed) == 4:
            segs = [(_E_LEFT, _E_BOTTOM), (_E_RIGHT, _E_TOP)]
        else:
            segs = []
        for p, q in segs:
            p, q = sorted((p, q))
            rows.append((case, p[0], p[1], q[0], q[1]))
    return rows


_CASE_ROWS = _case_rows()


def _inside_cells(spark: SparkSession, sf: str) -> DataFrame:
    """(gi, gj) lattice cells with count >= T (in-bounds only)."""
    pts = _event_points(spark, sf).filter(F.col("event_id") < _CT_EVENTS)
    g = pts.select(
        F.floor((F.col("x") - grids.L0_ORIGIN_X) / _CT_S).cast("long")
         .alias("gi"),
        F.floor((F.col("y") - grids.L0_ORIGIN_Y) / _CT_S).cast("long")
         .alias("gj"))
    g = g.filter((F.col("gi") >= 0) & (F.col("gi") < 4 * _CT_NSIDE)
                 & (F.col("gj") >= 0) & (F.col("gj") < 5 * _CT_NSIDE))
    return (g.groupBy("gi", "gj").agg(F.count("*").alias("n"))
             .filter(F.col("n") >= _CT_T).select("gi", "gj"))


def g_contour(spark: SparkSession, sf: str) -> DataFrame:
    inside = _inside_cells(spark, sf)
    # each inside cell corners 4 blocks: block (gi-dx, gj-dy), bit by (dx,dy)
    d = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 2), (0, 1, 4), (1, 1, 8)], "dx int, dy int, bit int")
    blocks = (inside.crossJoin(F.broadcast(d))
              .select((F.col("gi") - F.col("dx")).alias("bi"),
                      (F.col("gj") - F.col("dy")).alias("bj"), "bit")
              .groupBy("bi", "bj").agg(F.sum("bit").alias("case")))
    cases = spark.createDataFrame(
        _CASE_ROWS, "case long, rx1 long, ry1 long, rx2 long, ry2 long")
    return (blocks.join(F.broadcast(cases), "case")
            .select((2 * F.col("bi") + F.col("rx1")).alias("x1"),
                    (2 * F.col("bj") + F.col("ry1")).alias("y1"),
                    (2 * F.col("bi") + F.col("rx2")).alias("x2"),
                    (2 * F.col("bj") + F.col("ry2")).alias("y2"))
            .orderBy("x1", "y1", "x2", "y2"))


_SQL_CASES = ", ".join(f"({c}, {a}, {b}, {x}, {y})"
                       for c, a, b, x, y in _CASE_ROWS)

SQL_CONTOUR = f"""
WITH {cells_cte(f"{_EVENT_XY} WHERE event_id < {_CT_EVENTS}", _CT_RBITS)},
inside AS (  -- in-bounds lattice slots, covered or not
  SELECT gi, gj FROM cells WHERE gi IS NOT NULL
  GROUP BY gi, gj HAVING count(*) >= {_CT_T}
), corner AS (SELECT * FROM (VALUES (0,0,1), (1,0,2), (0,1,4), (1,1,8))
              AS t(dx, dy, bit)),
blocks AS (
  SELECT i.gi - c.dx AS bi, i.gj - c.dy AS bj, sum(c.bit) AS cs
  FROM inside i, corner c
  GROUP BY i.gi - c.dx, i.gj - c.dy
), cases AS (SELECT * FROM (VALUES {_SQL_CASES})
             AS t(cs, rx1, ry1, rx2, ry2))
SELECT 2 * b.bi + c.rx1 AS x1, 2 * b.bj + c.ry1 AS y1,
       2 * b.bi + c.rx2 AS x2, 2 * b.bj + c.ry2 AS y2
FROM blocks b JOIN cases c ON c.cs = b.cs
ORDER BY x1, y1, x2, y2
"""


QUERIES = {
    "geo_contour": (g_contour, SQL_CONTOUR),
}
