"""Geospatial query surface.

Oracle-checked entries derive deterministic planar points from ``events``
with integer arithmetic that DuckDB reproduces exactly (both sides compute
identical doubles — divisors are powers of two), then run the ENGINE kernel
(pandas-UDF cell encode / native tile math) on the Spark side against a
straight SQL re-statement of the grid spec (/root/reference/conf.yaml:21-26)
on the oracle side.  That makes the grid semantics themselves
driver-verified, not just pytest-verified.

Pages-based entries (geoparse -> geocode -> cover join -> kNN) have no SQL
oracle (the TM projection isn't SQL-expressible) — driver records rows-only;
bit-exactness is gated by tests/test_grid_golden.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells_sql, geo
from ..grid import grids
from ..grid.cells import cell_b_from_xy
from ..operators import tiles
from ..sources.tables import load
from .sql_grid import cells_cte

# deterministic planar points from events (exact in float64 on both engines)
_XENG = "3678500.0 + ((event_id * 2654435761) % 2097152)"
_YENG = "970000.0 + ((event_id * 40503) % 2621440)"
_EVENT_XY = f"SELECT event_id, {_XENG} AS x, {_YENG} AS y FROM events"


def position_cols():
    """The deterministic position hash as Spark Columns — THE single Spark-side
    implementation of _XENG/_YENG (every query deriving planar positions from
    event_id must use this, so the hash constants live in exactly one
    Python + one SQL place)."""
    x = (F.lit(grids.L0_ORIGIN_X) + (F.col("event_id") * 2654435761) % 2097152).alias("x")
    y = (F.lit(grids.L0_ORIGIN_Y) + (F.col("event_id") * 40503) % 2621440).alias("y")
    return x, y


def _event_points(spark: SparkSession, sf: str, extra: tuple = ()) -> DataFrame:
    ev = load(spark, sf, "events")
    x, y = position_cols()
    return ev.select("event_id", *extra, x, y)


def event_cells(spark: SparkSession, sf: str, r: int, extra: tuple = (),
                max_event_id: int | None = None) -> DataFrame:
    """(event_id, *extra, x, y, cell): the event points that lie on the grid,
    each with its depth-(4 + r) Grid B cell — THE Spark twin of
    ``cells_cte(_EVENT_XY, r) ... WHERE cell >= 0``.  The encode is the
    single-eval pandas UDF (one ArrowEvalPython, below its ``cell >= 0``
    filter); ``max_event_id`` keeps only event_id < it, filtered below the
    encode."""
    pts = _event_points(spark, sf, extra)
    if max_event_id is not None:
        pts = pts.filter(F.col("event_id") < max_event_id)
    return (pts.withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), r))
               .filter(F.col("cell") >= 0))


def event_cell_counts(spark: SparkSession, sf: str, r: int,
                      max_event_id: int | None = None) -> DataFrame:
    """(cell, n): events per occupied depth-(4 + r) Grid B cell, the raster
    that density, graph and hot-spot entries start from (its SQL twin is
    ``cells_cte -> cell >= 0 -> count per cell``)."""
    return (event_cells(spark, sf, r, max_event_id=max_event_id)
            .groupBy("cell").agg(F.count("*").alias("n")))


def g_cell_assign_parity(spark: SparkSession, sf: str) -> DataFrame:
    """Engine cell encode (pandas-UDF kernel) vs SQL spec re-statement."""
    pts = _event_points(spark, sf)
    out = pts.withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 4))
    return out.groupBy("cell").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_ev"),
    )


SQL_CELL_ASSIGN = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])}
SELECT cell, count(*) AS n, min(event_id) AS min_ev
FROM cells GROUP BY 1
"""

_TILE_Z = 6


def g_tile_assign(spark: SparkSession, sf: str) -> DataFrame:
    """XYZ tile + quadkey assignment (pure native column math, A26)."""
    pts = _event_points(spark, sf)
    return (
        pts.select(
            "event_id",
            tiles.tile_id(F.col("x"), F.col("y"), _TILE_Z).alias("tile"),
            tiles.tile_quadkey_num(F.col("x"), F.col("y"), _TILE_Z).alias("quadkey"),
        )
        .groupBy("tile", "quadkey").agg(F.count("*").alias("n"))
    )


def _sql_quadkey(z: int) -> str:
    terms = []
    for k in range(z - 1, -1, -1):
        terms.append(f"(((ty >> {k}) & 1) * 2 + ((tx >> {k}) & 1))")
    expr = "0"
    for t in terms:
        expr = f"({expr}) * 4 + {t}"
    return expr


SQL_TILE = f"""
WITH pts AS (
  SELECT event_id, {_XENG} AS x, {_YENG} AS y FROM events
), t AS (
  SELECT event_id,
         CAST(floor((x - {tiles.X0!r}) / {tiles.X_EXTENT / (1 << _TILE_Z)!r}) AS BIGINT) AS tx,
         CAST(floor(({tiles.Y0 + tiles.Y_EXTENT!r} - y) / {tiles.Y_EXTENT / (1 << _TILE_Z)!r}) AS BIGINT) AS ty
  FROM pts
)
SELECT CASE WHEN tx BETWEEN 0 AND {(1 << _TILE_Z) - 1} AND ty BETWEEN 0 AND {(1 << _TILE_Z) - 1}
            THEN ty * {1 << _TILE_Z} + tx END AS tile,
       CASE WHEN tx BETWEEN 0 AND {(1 << _TILE_Z) - 1} AND ty BETWEEN 0 AND {(1 << _TILE_Z) - 1}
            THEN {_sql_quadkey(_TILE_Z)} END AS quadkey,
       count(*) AS n
FROM t GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Pages-based pipelines moved to queries/geo_pages.py (round-3): they now run
# over the COMMITTED fixtures so the driver hash-checks them end to end.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Cover compaction: fixed-depth point cells -> minimal mixed-depth cover
# ---------------------------------------------------------------------------

_COMPACT_RBITS = 8  # refinement bits -> nbits 12 cells, 4 merge levels to L0


def g_cover_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Engine kernel encode at depth 12 -> operators.compact.compact_cover;
    oracle re-states the encode from the grid spec and unrolls the four
    quad-merge levels as window-count CTEs."""
    from ..operators.compact import compact_cover

    pts = _event_points(spark, sf)
    cells = pts.select(
        geo.xy_to_cell_b(F.col("x"), F.col("y"), _COMPACT_RBITS).alias("cell"))
    return compact_cover(cells, min_depth=4)


def _sql_merge_level(prev: str) -> str:
    """One simultaneous quad-merge pass over a distinct cell set."""
    return f"""
  SELECT DISTINCT CASE WHEN mrg THEN par ELSE cell END AS cell FROM (
    SELECT cell, par,
           par IS NOT NULL AND count(*) OVER (PARTITION BY par) = 4 AS mrg
    FROM (SELECT cell,
                 CASE WHEN cell % 64 >= 6
                      THEN ((cell // 64) // 4) * 64 + (cell % 64 - 2) END AS par
          FROM {prev})
  )"""


SQL_COVER_COMPACT = f"""
WITH {cells_cte(_EVENT_XY, _COMPACT_RBITS)},
l0 AS (SELECT DISTINCT cell FROM cells WHERE cell >= 0
), l1 AS ({_sql_merge_level('l0')}
), l2 AS ({_sql_merge_level('l1')}
), l3 AS ({_sql_merge_level('l2')}
), l4 AS ({_sql_merge_level('l3')}
)
SELECT cell, cell % 64 AS depth FROM l4
"""


# ---------------------------------------------------------------------------
# Segment -> cell trace (route coverage, operators/trace.py)
# ---------------------------------------------------------------------------

_TRACE_N_SEG = 100


def g_segment_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Trajectory segments (event point k -> point k+1) rasterized to the
    distinct depth-12 cells they touch; engine = densify + pandas-UDF encode,
    oracle = the same bit-exact lerp + grid-spec restatement."""
    from ..operators.trace import segment_cells

    ev = load(spark, sf, "events").filter(F.col("event_id") < _TRACE_N_SEG)
    x1 = F.lit(grids.L0_ORIGIN_X) + (F.col("event_id") * 2654435761) % 2097152
    y1 = F.lit(grids.L0_ORIGIN_Y) + (F.col("event_id") * 40503) % 2621440
    x2 = F.lit(grids.L0_ORIGIN_X) + ((F.col("event_id") + 1) * 2654435761) % 2097152
    y2 = F.lit(grids.L0_ORIGIN_Y) + ((F.col("event_id") + 1) * 40503) % 2621440
    return segment_cells(ev, x1, y1, x2, y2, rbits=8, keep=["event_id"])


SQL_SEGMENT_CELLS = f"""
WITH seg AS (
  SELECT event_id, {_XENG} AS x1, {_YENG} AS y1,
         {grids.L0_ORIGIN_X!r} + ((event_id + 1) * 2654435761) % 2097152 AS x2,
         {grids.L0_ORIGIN_Y!r} + ((event_id + 1) * 40503) % 2621440 AS y2
  FROM events WHERE event_id < {_TRACE_N_SEG}
), samp AS (
  SELECT event_id,
         x1 + (x2 - x1) * (CAST(t AS DOUBLE) / 64.0) AS x,
         y1 + (y2 - y1) * (CAST(t AS DOUBLE) / 64.0) AS y
  FROM seg, generate_series(0, 64) AS g(t)
), {cells_cte("SELECT event_id, x, y FROM samp", 8, ['event_id'])}
SELECT DISTINCT event_id, cell FROM cells WHERE cell >= 0
"""


# ---------------------------------------------------------------------------
# Spatial range (bbox) query: cell-index prefilter + exact predicate
# ---------------------------------------------------------------------------

_BBOX = (4_200_000.0, 1_800_000.0, 4_900_000.0, 2_600_000.0)  # xmin ymin xmax ymax


def _bbox_cover_cells(xmin: float, ymin: float, xmax: float, ymax: float,
                      rbits: int = 8) -> list[int]:
    """All depth-(4+rbits) cells overlapping the half-open box [min, max) —
    driver-side lattice enumeration (tiny: bbox_area / cell_area entries),
    the list an indexed scan prunes with.

    The inclusive max lattice index is ceil(max/w) - 1: a box edge exactly on
    a cell boundary excludes that boundary's cell, an edge any amount above
    it includes it — no epsilon.  Cell ids come from the ONE canonical
    encode (cells.cell_b_from_xy on cell centers), not a re-derivation.
    """
    import math

    import numpy as np

    n = 1 << (rbits // 2)
    w = grids.L0_SIDE / n
    gx0 = math.floor((xmin - grids.L0_ORIGIN_X) / w)
    gx1 = math.ceil((xmax - grids.L0_ORIGIN_X) / w) - 1
    gy0 = math.floor((ymin - grids.L0_ORIGIN_Y) / w)
    gy1 = math.ceil((ymax - grids.L0_ORIGIN_Y) / w) - 1
    gx, gy = np.meshgrid(np.arange(gx0, gx1 + 1), np.arange(gy0, gy1 + 1))
    cx = grids.L0_ORIGIN_X + (gx.ravel() + 0.5) * w
    cy = grids.L0_ORIGIN_Y + (gy.ravel() + 0.5) * w
    cell = cell_b_from_xy(cx, cy, rbits)
    return [int(c) for c in cell[cell >= 0]]


def g_bbox_query(spark: SparkSession, sf: str) -> DataFrame:
    """Range query the scale way: enumerate the bbox's cover cells on the
    driver (~500 for this box), prune the indexed cell column with IN, then
    apply the exact coordinate predicate — candidate set is bbox-area-bound
    instead of table-size-bound.  The oracle states the plain x/y WHERE, so
    any point the prefilter wrongly drops fails the hash."""
    cand_cells = _bbox_cover_cells(*_BBOX)
    xmin, ymin, xmax, ymax = _BBOX
    pts = _event_points(spark, sf).withColumn(
        "cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 8))
    hit = (pts.filter(F.col("cell").isin(cand_cells))
              .filter((F.col("x") >= xmin) & (F.col("x") < xmax)
                      & (F.col("y") >= ymin) & (F.col("y") < ymax)))
    return hit.agg(F.count("*").alias("n_points"),
                   F.min("event_id").alias("min_ev"),
                   F.max("event_id").alias("max_ev"),
                   F.countDistinct("cell").cast("long").alias("n_cells"))


SQL_BBOX_QUERY = f"""
WITH {cells_cte(_EVENT_XY, 8, ['event_id'])}
SELECT CAST(count(*) AS BIGINT) AS n_points, min(event_id) AS min_ev,
       max(event_id) AS max_ev,
       CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
FROM cells
WHERE cell >= 0
  AND x >= {_BBOX[0]!r} AND x < {_BBOX[2]!r}
  AND y >= {_BBOX[1]!r} AND y < {_BBOX[3]!r}
"""


# ---------------------------------------------------------------------------
# Multi-resolution pyramid rollup (tile-pyramid build from leaf aggregates)
# ---------------------------------------------------------------------------

_PYRAMID_DEPTHS = (4, 6, 8, 10, 12)


def g_pyramid_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Counts at EVERY pyramid level from one leaf aggregation: aggregate
    depth-12 leaves once, then each coarser level re-aggregates the previous
    level with a 2-bit shift — never re-scanning the points (design rule #5;
    the map-tile pyramid build).  Output (depth, cell, n)."""
    leaf_d = max(_PYRAMID_DEPTHS)
    leaf = event_cell_counts(spark, sf, leaf_d - 4)
    levels = [leaf.select(F.lit(leaf_d).alias("depth"), "cell",
                          F.col("n").cast("long").alias("n"))]
    cur = leaf
    for d in sorted(_PYRAMID_DEPTHS)[:-1][::-1]:
        cur = (cur.select(cells_sql.cell_parent(F.col("cell"), 2).alias("cell"), "n")
                  .groupBy("cell").agg(F.sum("n").alias("n")))
        levels.append(cur.select(F.lit(d).alias("depth"), "cell",
                                 F.col("n").cast("long").alias("n")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


SQL_PYRAMID = f"""
WITH {cells_cte(_EVENT_XY, max(_PYRAMID_DEPTHS) - 4)},
leaf AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n
  FROM cells WHERE cell >= 0 GROUP BY 1
)
SELECT CAST(depth AS INT) AS depth,
       ((cell // 64) >> (12 - depth)) * 64 + depth AS cell,
       CAST(sum(n) AS BIGINT) AS n
FROM leaf CROSS JOIN (SELECT unnest([{", ".join(map(str, _PYRAMID_DEPTHS))}]) AS depth)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Region centroid + snap: aggregate geometry, re-encoded through the kernel
# ---------------------------------------------------------------------------


def g_region_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Per depth-8 cell: the member points' centroid (bit-stable: the event
    lattice coordinates are integer-valued, so the sums aggregate in BIGINT
    and ONE final double division is the only FP op) and that centroid
    snapped to its depth-12 cell via the engine encode kernel — the
    'aggregate geometry then re-index' shape of POI conflation / label
    placement."""
    agg = event_cells(spark, sf, 4).groupBy("cell").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("long")).alias("sx"),
        F.sum(F.col("y").cast("long")).alias("sy"))
    cx = F.col("sx").cast("double") / F.col("n")
    cy = F.col("sy").cast("double") / F.col("n")
    return agg.select(
        "cell", F.col("n").cast("long").alias("n"),
        F.round(cx, 6).alias("cx"), F.round(cy, 6).alias("cy"),
        geo.xy_to_cell_b(cx, cy, 8).alias("snap_cell"))


SQL_REGION_CENTROID = f"""
WITH {cells_cte(_EVENT_XY, 4)},
agg AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS sy
  FROM cells WHERE cell >= 0 GROUP BY cell
), ctr AS (
  SELECT cell AS cell8, n, CAST(sx AS DOUBLE) / n AS x, CAST(sy AS DOUBLE) / n AS y
  FROM agg
), {cells_cte("SELECT cell8, n, x, y FROM ctr", 8, ['cell8', 'n'], name='snap')}
SELECT cell8 AS cell, n, round(x, 6) AS cx, round(y, 6) AS cy, cell AS snap_cell
FROM snap
"""


# ---------------------------------------------------------------------------
# Voronoi / nearest-facility assignment (broadcast seeds, no join)
# ---------------------------------------------------------------------------

_VOR_NSEEDS = 20


def g_voronoi_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Assign every point to its nearest of ``_VOR_NSEEDS`` facility seeds
    (events 0..19's positions) — the Voronoi-partition / nearest-warehouse
    primitive.  The seed set is driver-sized, so the whole assignment is ONE
    narrow projection over a broadcast literal array (array_min over
    (dist, seed) structs — no join, no shuffle until the per-seed rollup);
    sqrt is IEEE-correctly-rounded, so distances hash identically.  Ties
    break to the lower seed id on both engines."""
    pts = _event_points(spark, sf)
    seeds = [(int(s), float(grids.L0_ORIGIN_X + (s * 2654435761) % 2097152),
              float(grids.L0_ORIGIN_Y + (s * 40503) % 2621440))
             for s in range(_VOR_NSEEDS)]
    pairs = F.array(*[
        F.struct(
            F.sqrt((F.col("x") - F.lit(sx)) * (F.col("x") - F.lit(sx))
                   + (F.col("y") - F.lit(sy)) * (F.col("y") - F.lit(sy)))
            .alias("d"),
            F.lit(sid).alias("sid"))
        for sid, sx, sy in seeds])
    best = F.array_min(pairs)
    return (pts.select("event_id", best["sid"].cast("long").alias("seed"),
                       F.round(best["d"], 3).alias("dist"))
               .groupBy("seed")
               .agg(F.count("*").alias("n_points"),
                    F.round(F.max("dist"), 3).alias("max_dist"),
                    F.min("event_id").alias("min_ev")))


SQL_VORONOI = f"""
WITH pts AS (
  SELECT event_id, {_XENG} AS x, {_YENG} AS y FROM events
), seeds AS (
  SELECT s AS sid,
         {grids.L0_ORIGIN_X!r} + ((s * 2654435761) % 2097152) AS sx,
         {grids.L0_ORIGIN_Y!r} + ((s * 40503) % 2621440) AS sy
  FROM (SELECT unnest(range(0, {_VOR_NSEEDS})) AS s)
), scored AS (
  SELECT p.event_id, s.sid,
         sqrt((p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy)) AS d
  FROM pts p CROSS JOIN seeds s
), best AS (
  SELECT event_id, sid AS seed, round(d, 3) AS dist
  FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                                     ORDER BY d, sid) AS rn
        FROM scored) WHERE rn = 1
)
SELECT seed, CAST(count(*) AS BIGINT) AS n_points,
       round(max(dist), 3) AS max_dist, min(event_id) AS min_ev
FROM best GROUP BY seed
"""


QUERIES = {
    "geo_cell_assign": (g_cell_assign_parity, SQL_CELL_ASSIGN),
    "geo_tile_assign": (g_tile_assign, SQL_TILE),
    "geo_cover_compact": (g_cover_compact, SQL_COVER_COMPACT),
    "geo_segment_cells": (g_segment_cells, SQL_SEGMENT_CELLS),
    "geo_bbox_query": (g_bbox_query, SQL_BBOX_QUERY),
    "geo_pyramid_rollup": (g_pyramid_rollup, SQL_PYRAMID),
    "geo_region_centroid": (g_region_centroid, SQL_REGION_CENTROID),
    "geo_voronoi_assign": (g_voronoi_assign, SQL_VORONOI),
}
