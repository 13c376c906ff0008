"""Index/tiling/scan query surface: global quadtree (A25), tile<->cell
algebra (A26), partitioned-write pushdown (B1/B4), GeoJSON scan (B3).

Oracle strategy: deterministic lat/lon or planar points derived from
``events`` with power-of-two-safe integer arithmetic; the engine runs native
Column kernels; the oracle restates the arithmetic in SQL.  The GeoJSON scan
reads the reference's own fixture and is oracle-checked against DuckDB's
read_json over the same file (plus a pytest cross-check vs conf.yaml's L0
map); the Colombia PIP entry materializes points + polygon edges and the
oracle re-runs the even-odd ray cast as a range join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .mat import run_tmp

from ..functions import global_grid
from ..grid import grids
from ..operators import tiles
from ..sources.reference_data import REF_DIR
from ..sources.tables import load
from .geospatial import _EVENT_XY, event_cells
from .sql_grid import _HEX, b16h_code, cells_cte, dbl, lattice_cell
from .sql_grid import morton_ref as _sql_ref

# deterministic global lat/lon per event (exact in float64 on both engines)
_LAT = "(-90.0 + ((event_id * 40503) % 180000) / 1000.0)"
_LON = "(-180.0 + ((event_id * 2654435761) % 360000) / 1000.0)"

_GLEVEL = 6


def _event_latlon(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.select(
        "event_id",
        (F.lit(-90.0) + (F.col("event_id") * 40503) % 180000 / 1000.0).alias("lat"),
        (F.lit(-180.0) + (F.col("event_id") * 2654435761) % 360000 / 1000.0).alias("lon"),
    )


def g_global_cell(spark: SparkSession, sf: str) -> DataFrame:
    """A25: global quadtree encode + center round-trip + parent, all native."""
    pts = _event_latlon(spark, sf)
    out = pts.withColumn("cell", global_grid.latlng_to_cell(
        F.col("lat"), F.col("lon"), _GLEVEL))
    clat, clon = global_grid.cell_to_latlng(F.col("cell"), _GLEVEL)
    return out.select(
        "event_id", "cell",
        clat.alias("center_lat"), clon.alias("center_lon"),
        global_grid.cell_to_parent(F.col("cell"), 3).alias("parent3"),
    )


def _sql_global() -> str:
    n = 1 << _GLEVEL
    r = 2 * _GLEVEL
    return f"""
WITH pts AS (
  SELECT event_id, CAST({_LAT} AS DOUBLE) AS lat, CAST({_LON} AS DOUBLE) AS lon
  FROM events
), ij AS (
  SELECT event_id,
         least(CAST(floor((lat + 90.0) / 180.0 * {n}) AS BIGINT), {n - 1}) AS iy,
         least(CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT), {n - 1}) AS ix
  FROM pts
), c AS (
  SELECT event_id, iy, ix, ({_sql_ref(r)}) AS bits FROM ij
)
SELECT event_id, bits * 64 + {r} AS cell,
       (iy + 0.5) / {n} * 180.0 - 90.0 AS center_lat,
       (ix + 0.5) / {n} * 360.0 - 180.0 AS center_lon,
       (bits >> {r - 6}) * 64 + 6 AS parent3
FROM c
"""


_TILE_Z = 3
_TILE_DEPTH = 8


def g_cell_to_tile(spark: SparkSession, sf: str) -> DataFrame:
    """A26: Grid B cell -> containing raster tile, native prefix/arith only."""
    cells = event_cells(spark, sf, 4).select("cell").distinct()
    return cells.select(
        "cell", tiles.cell_to_tile(F.col("cell"), _TILE_DEPTH, _TILE_Z).alias("tile"))


def _sql_cell_to_tile() -> str:
    n = 1 << _TILE_Z
    dx = tiles.X_EXTENT / n
    dy = tiles.Y_EXTENT / n
    side = grids.L0_SIDE / 4.0
    return f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
cc AS (SELECT DISTINCT cell, gi, gj FROM cells WHERE cell >= 0),
ctr AS (
  SELECT cell, {dbl(tiles.X0)} + (gi + 0.5) * {dbl(side)} AS cx,
               {dbl(tiles.Y0)} + (gj + 0.5) * {dbl(side)} AS cy
  FROM cc)
SELECT cell,
       CAST(floor(({dbl(tiles.Y0 + tiles.Y_EXTENT)} - cy) / {dbl(dy)}) AS BIGINT) * {n}
       + CAST(floor((cx - {dbl(tiles.X0)}) / {dbl(dx)}) AS BIGINT) AS tile
FROM ctr
"""


def g_tile_to_cells(spark: SparkSession, sf: str) -> DataFrame:
    """A26 inverse: every z=2 tile -> its depth-8 cells (explode shape)."""
    t = spark.range(1 << (2 * 2)).select(F.col("id").alias("tile"))
    return t.select(
        "tile",
        F.explode(tiles.tile_to_cells(F.col("tile"), 2, _TILE_DEPTH)).alias("cell"),
    )


def _sql_tile_to_cells() -> str:
    z = 2
    n = 1 << z
    side = grids.L0_SIDE / 4.0
    dx = tiles.X_EXTENT / n
    dy = tiles.Y_EXTENT / n
    return f"""
WITH t AS (SELECT unnest(range({n * n})) AS tile),
ext AS (
  SELECT tile, (tile % {n}) AS tx, (tile // {n}) AS ty FROM t
), box AS (
  SELECT tile,
         tx * {dbl(dx)} AS x0, tx * {dbl(dx)} + {dbl(dx)} AS x1,
         {dbl(tiles.Y_EXTENT)} - ty * {dbl(dy)} - {dbl(dy)} AS y0,
         {dbl(tiles.Y_EXTENT)} - ty * {dbl(dy)} AS y1
  FROM ext
), rng AS (
  SELECT tile,
         greatest(CAST(ceil(x0 / {dbl(side)} - 0.5) AS BIGINT), 0) AS gx0,
         least(CAST(ceil(x1 / {dbl(side)} - 0.5) AS BIGINT) - 1, {grids.L0_NI * 4 - 1}) AS gx1,
         greatest(CAST(floor(y0 / {dbl(side)} - 0.5) AS BIGINT) + 1, 0) AS gy0,
         least(CAST(floor(y1 / {dbl(side)} - 0.5) AS BIGINT), {grids.L0_NJ * 4 - 1}) AS gy1
  FROM box
), latt AS (
  SELECT tile, {lattice_cell("gx.g", "gy.g", 4)} AS cell
  FROM rng, LATERAL (SELECT unnest(range(gy0, gy1 + 1)) AS g) gy,
            LATERAL (SELECT unnest(range(gx0, gx1 + 1)) AS g) gx
)
SELECT tile, cell FROM latt WHERE cell >= 0
"""


# ---------------------------------------------------------------------------
# B1/B4: partitioned write + partition-pruned scan round-trip
# ---------------------------------------------------------------------------


def g_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Write per-cell aggregates partitioned by L0 digit, read back with a
    partition filter (pruned scan — only 3 of 16 hive partitions listed),
    return the filtered contents.  The oracle recomputes from events
    directly, so the round-trip (write -> prune -> read) is value-checked.
    """
    from ..functions import cells_sql

    agg = (event_cells(spark, sf, 4)
           .groupBy("cell").agg(F.count("*").alias("n"),
                                F.min("event_id").alias("min_ev"))
           .withColumn("l0", cells_sql.cell_l0_digit(F.col("cell"))))
    base = run_tmp("co_part_scan")
    agg.write.mode("overwrite").partitionBy("l0").parquet(base)
    back = spark.read.parquet(base).filter(F.col("l0").isin(0xC, 0x6, 0x4))
    return back.select("cell", "n", "min_ev", F.col("l0").cast("long").alias("l0"))


SQL_PARTITIONED_SCAN = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
agg AS (
  SELECT cell, count(*) AS n, min(event_id) AS min_ev,
         (cell >> 6) >> 4 AS l0
  FROM cells WHERE cell >= 0 GROUP BY cell)
SELECT cell, n, min_ev, l0 FROM agg WHERE l0 IN (12, 6, 4)
"""


# ---------------------------------------------------------------------------
# B3: GeoJSON scan via spark.read.json (rows-only; pytest-checked vs conf)
# ---------------------------------------------------------------------------


def g_geojson_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Scan the reference grid256 GeoJSON as a DataFrame: explode features,
    pull nested properties + ring vertex counts natively."""
    raw = spark.read.option("multiLine", True).json(
        os.path.join(REF_DIR, "data", "grid256.geojson"))
    feats = raw.select(F.explode("features").alias("f"))
    return feats.select(
        F.col("f.properties.code").alias("code"),
        F.col("f.properties.ji").alias("ji"),
        F.col("f.properties.ji_int").alias("ji_int"),
        F.col("f.geometry.type").alias("geom_type"),
        F.size(F.col("f.geometry.coordinates")[0]).alias("n_vertices"),
    ).orderBy("code")


_CORNER_TOL = 5e-4  # deg (~55 m): ref file rounds to 1e-5 deg, our inverse
#                     is corner-parity-tested to <=0.6 m — a real projection
#                     bug would be off by >= the grid-cell scale (~degrees)


def g_decode_geojson(spark: SparkSession, sf: str) -> DataFrame:
    """A3/§3.3: inverse-projection corner parity vs the reference's published
    L0 GeoJSON (/root/reference/data/grid256L0.geojson:1).

    Reads the 16 published L0 polygons, and checks every ring corner (WGS84,
    5 decimals) against the cell's four lattice-box corners decoded through
    the ENGINE kernels (cell_b_box + inverse TM, Arrow-batched): a corner is
    ok when some decoded corner is within 5e-4 deg.  Hash-checked against a
    VALUES oracle pinning (cell, code, n_corners_ok = 4) — upgrading this
    entry from rows-only (the inverse TM itself is not SQL-expressible).
    The GeoJSON Feature-string sink surface stays registered as
    geo_cell_geojson (rows-only, format pytest-gated).
    """
    from ..functions import geo

    raw = spark.read.option("multiLine", True).json(
        os.path.join(REF_DIR, "data", "grid256L0.geojson"))
    feats = raw.select(F.explode("features").alias("f"))
    rows = feats.select(
        F.col("f.properties.code").alias("code"),
        (F.expr(f"instr('{_HEX}', f.properties.code) - 1")
         .cast("long") * 64 + 4).alias("cell"),
        F.explode(F.slice(F.col("f.geometry.coordinates")[0], 1, 4))
         .alias("coord"),
    ).select("code", "cell", F.col("coord")[0].alias("ref_lon"),
             F.col("coord")[1].alias("ref_lat"))
    b = rows.withColumn("box", geo.cell_b_box(F.col("cell")))
    corners = [("box.xmin", "box.ymin"), ("box.xmin", "box.ymax"),
               ("box.xmax", "box.ymax"), ("box.xmax", "box.ymin")]
    for k, (cx, cy) in enumerate(corners):
        b = b.withColumn(f"ll{k}", geo.xy_to_latlon(F.col(cx), F.col(cy)))
    ok = F.least(*[
        F.greatest(F.abs(F.col(f"ll{k}.lat") - F.col("ref_lat")),
                   F.abs(F.col(f"ll{k}.lon") - F.col("ref_lon")))
        for k in range(4)]) <= F.lit(_CORNER_TOL)
    return (b.withColumn("ok", ok)
            .groupBy("cell", "code")
            .agg(F.sum(F.col("ok").cast("long")).alias("n_corners_ok"))
            .orderBy("cell"))


def _sql_decode_geojson() -> str:
    """VALUES oracle: every L0 cell must have all 4 corners ok.  The 16 L0
    digits come from the grid spec (grids.L0_DIGIT_BY_JI), so building the
    registry reads no file."""
    digits = sorted(int(d) for d in grids.L0_DIGIT_BY_JI.ravel() if d >= 0)
    vals = [f"({d * 64 + 4}, '{d:x}', 4)" for d in digits]
    return ("SELECT cell, code, n_corners_ok FROM (VALUES "
            + ", ".join(vals)
            + ") t(cell, code, n_corners_ok) ORDER BY cell")


_GJ_RING = "$.geometry.coordinates[0]"


def g_cell_geojson(spark: SparkSession, sf: str) -> DataFrame:
    """§3.3 visualization sink: cells -> GeoJSON Feature strings (WGS84),
    for the 16 L0 + all 256 depth-8 cells (the grid256*.geojson products).

    Oracle-backed via the mat.py protocol (round-3 VERDICT ask #6): the
    Feature strings (whose floats need the inverse TM) are materialized,
    then each engine CROSS-DERIVES the canonical columns — Spark parses the
    JSON (get_json_object/from_json) while the oracle recomputes ``code``
    from the cell id through the SQL base16h codec restatement and pulls the
    rest via DuckDB's json functions.  A hash match therefore proves the
    embedded code equals an independently-derived codec, the ring is closed
    5-vertex, and the corner floats parse identically; corner GEOMETRY
    accuracy stays gated by geo_decode_geojson's corner-parity oracle."""
    from ..functions import geo
    from .mat import materialize

    cells_df = (spark.range(16).select((F.col("id") * 64 + 4).alias("cell"))
                .unionByName(spark.range(256)
                             .select((F.col("id") * 64 + 8).alias("cell"))))
    feats = cells_df.select(
        "cell", geo.cell_b_geojson(F.col("cell")).alias("feature"))
    feats = materialize(feats, "cell_geojson", key=sf)
    return feats.select(
        "cell",
        F.get_json_object("feature", "$.properties.code").alias("code"),
        F.get_json_object("feature", "$.geometry.type").alias("geom_type"),
        F.size(F.from_json(F.get_json_object("feature", _GJ_RING),
                           "array<array<double>>")).alias("n_vertices"),
        (F.get_json_object("feature", _GJ_RING + "[0]")
         == F.get_json_object("feature", _GJ_RING + "[4]")).alias("closed"),
        F.get_json_object("feature", _GJ_RING + "[0][0]")
         .cast("double").alias("lon0"),
        F.get_json_object("feature", _GJ_RING + "[0][1]")
         .cast("double").alias("lat0"),
        "feature",
    )


def _sql_cell_geojson() -> str:
    from .mat import mat_glob

    return f"""
SELECT cell,
       {b16h_code('cell >> 6', 'cell & 63')} AS code,
       json_extract_string(feature, '$.geometry.type') AS geom_type,
       CAST(json_array_length(feature, '{_GJ_RING}') AS INTEGER) AS n_vertices,
       json_extract(feature, '{_GJ_RING}[0]')
         = json_extract(feature, '{_GJ_RING}[4]') AS closed,
       CAST(json_extract(feature, '{_GJ_RING}[0][0]') AS DOUBLE) AS lon0,
       CAST(json_extract(feature, '{_GJ_RING}[0][1]') AS DOUBLE) AS lat0,
       feature
FROM read_parquet('{mat_glob("cell_geojson")}')
"""


def g_pip_colombia(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast PIP join against the REAL reference coverage geometry
    (Colombia land+sea, 40,405 vertices): per-L0 counts of pages inside.

    Oracle-checked via the mat.py protocol: the projected points (the
    xxhash-generated, TM-projected part DuckDB can't restate) and the
    polygon's closed-ring edge list are materialized; the oracle re-runs the
    even-odd ray cast as a range join over those same bytes, with the
    crossing arithmetic in the exact float64 op order of operators/pip.py."""
    import numpy as np

    from ..functions import cells_sql, geo
    from ..operators.pip import pip_udf
    from ..sources.pages import stored_pages as pages
    from ..sources.reference_data import load_admin_polygons
    from .mat import materialize

    rings = [r for f in load_admin_polygons() for r in f["rings"]]
    closed = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and (r[0] != r[-1]).any():
            r = np.vstack([r, r[:1]])
        closed.append(r)
    ev = np.vstack([np.hstack([r[:-1], r[1:]]) for r in closed])
    # driver-sized dim export: written directly (no Spark job) — the udf's
    # rings and this table both derive from the same load_admin_polygons()
    _write_edges_parquet(ev)
    pg = pages(spark, 2_500, with_truth=True)
    pts = pg.select(
        "url", geo.latlon_to_xy_cell(F.col("true_lat"), F.col("true_lon"), 4).alias("s"))
    pts = materialize(
        pts.select("url", F.col("s.x").alias("x"), F.col("s.y").alias("y"),
                   F.col("s.cell").alias("cell")).coalesce(1),
        "pip_co_pts")
    pts = pts.withColumn("inside", pip_udf(rings)(F.col("x"), F.col("y")))
    return (pts.withColumn("l0", cells_sql.cell_l0_digit(F.col("cell")))
            .groupBy("l0")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("inside").cast("long")).alias("n_inside")))


def _write_edges_parquet(ev) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .mat import mat_path

    path = mat_path("pip_co_edges")
    if os.path.isdir(path):
        import shutil
        shutil.rmtree(path)
    os.makedirs(path)
    tbl = pa.table({"xi": ev[:, 0], "yi": ev[:, 1],
                    "xj": ev[:, 2], "yj": ev[:, 3]})
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def _sql_pip_colombia() -> str:
    from .mat import mat_glob

    l0 = ("CASE WHEN cell >= 0 AND (cell & 63) >= 4 "
          "THEN (cell >> 6) >> CAST((cell & 63) - 4 AS INTEGER) ELSE -1 END")
    return f"""
WITH p AS (SELECT * FROM read_parquet('{mat_glob("pip_co_pts")}')),
e AS (SELECT * FROM read_parquet('{mat_glob("pip_co_edges")}')),
cr AS (
  SELECT p.url, count(*) AS nc
  FROM p JOIN e
    ON least(e.yi, e.yj) <= p.y AND p.y < greatest(e.yi, e.yj)
   AND p.x < (e.xj - e.xi) * (p.y - e.yi) / (e.yj - e.yi) + e.xi
  GROUP BY p.url),
ins AS (
  SELECT {l0} AS l0, coalesce(cr.nc, 0) % 2 AS par
  FROM p LEFT JOIN cr USING (url))
SELECT l0, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(par) AS BIGINT) AS n_inside
FROM ins GROUP BY l0
"""


# B3 oracle: DuckDB's bundled JSON reader restates the same nested
# projection over the same file — upgrading geo_geojson_scan from rows-only.
SQL_GEOJSON_SCAN = """
SELECT f.properties.code AS code, f.properties.ji AS ji,
       f.properties.ji_int AS ji_int, f.geometry.type AS geom_type,
       len(f.geometry.coordinates[1]) AS n_vertices
FROM (SELECT unnest(features) AS f
      FROM read_json('/root/reference/data/grid256.geojson',
                     maximum_object_size=104857600))
"""


QUERIES = {
    "geo_pip_colombia": (g_pip_colombia, _sql_pip_colombia()),
    "geo_decode_geojson": (g_decode_geojson, _sql_decode_geojson()),
    "geo_cell_geojson": (g_cell_geojson, _sql_cell_geojson()),
    "geo_global_cell": (g_global_cell, _sql_global()),
    "geo_cell_to_tile": (g_cell_to_tile, _sql_cell_to_tile()),
    "geo_tile_to_cells": (g_tile_to_cells, _sql_tile_to_cells()),
    "geo_partitioned_scan": (g_partitioned_scan, SQL_PARTITIONED_SCAN),
    "geo_geojson_scan": (g_geojson_scan, SQL_GEOJSON_SCAN),
}
