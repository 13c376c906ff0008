"""Tests: global quadtree (A25), tile<->cell algebra (A26), GeoJSON scan (B3)."""

import os

import numpy as np
from pyspark.sql import functions as F

from co_new_spark.functions import global_grid
from co_new_spark.grid import grids
from co_new_spark.operators import tiles
from co_new_spark.sources import reference_data
from conftest import needs_reference

LEVEL = 5


def test_global_cell_roundtrip(spark):
    rng = np.random.default_rng(3)
    lat = rng.uniform(-90, 90, 300)
    lon = rng.uniform(-180, 180, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], ["lat", "lon"])
    out = df.withColumn("cell", global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), LEVEL))
    clat, clon = global_grid.cell_to_latlng(F.col("cell"), LEVEL)
    got = out.select("lat", "lon", "cell", clat.alias("clat"), clon.alias("clon")).toPandas()
    n = 1 << LEVEL
    # center must be within half a cell of the input point
    assert (np.abs(got.clat - got.lat) <= 180.0 / n / 2 + 1e-9).all()
    assert (np.abs(got.clon - got.lon) <= 360.0 / n / 2 + 1e-9).all()
    assert (got.cell >= 0).all()
    assert (got.cell % 64 == 2 * LEVEL).all()


def test_global_cell_bounds_and_nulls(spark):
    df = spark.createDataFrame(
        [(90.0, 180.0), (-90.0, -180.0), (91.0, 0.0), (None, 10.0)],
        ["lat", "lon"])
    got = [r.c for r in df.select(
        global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), LEVEL).alias("c")).collect()]
    assert got[0] >= 0 and got[1] >= 0  # poles/antimeridian clamp into range
    assert got[2] == -1 and got[3] == -1


def test_global_parent_contains(spark):
    from co_new_spark.functions import cells_sql

    df = spark.createDataFrame([(4.7, -74.1)], ["lat", "lon"]) \
        .withColumn("cell", global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), 8)) \
        .withColumn("parent", global_grid.cell_to_parent(F.col("cell"), 3)) \
        .withColumn("ok", cells_sql.cell_contains(F.col("parent"), F.col("cell")))
    r = df.first()
    assert r.ok and r.parent % 64 == 6


def test_grid_disk_wraps_longitude(spark):
    # cell on the antimeridian edge: disk must wrap, not truncate
    df = spark.createDataFrame([(0.0, -179.9), (0.0, 0.0)], ["lat", "lon"]) \
        .withColumn("cell", global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), LEVEL)) \
        .withColumn("disk", global_grid.grid_disk(F.col("cell"), LEVEL, 1))
    rows = df.select(F.size("disk").alias("n")).collect()
    assert rows[0].n == 9 and rows[1].n == 9  # wrap keeps the full 3x3 disk


def test_grid_disk_clamps_poles(spark):
    df = spark.createDataFrame([(89.9, 0.0)], ["lat", "lon"]) \
        .withColumn("cell", global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), LEVEL)) \
        .withColumn("disk", global_grid.grid_disk(F.col("cell"), LEVEL, 1))
    assert df.select(F.size("disk").alias("n")).first().n == 6  # top row clipped


def test_cell_tile_consistency(spark):
    """Every depth-8 cell maps into a tile whose cell list contains it."""
    df = spark.range(256).select((F.col("id") * 64 + 8).alias("cell"))
    df = df.withColumn("tile", tiles.cell_to_tile(F.col("cell"), 8, 2))
    back = df.withColumn("cells_of_tile", tiles.tile_to_cells(F.col("tile"), 2, 8))
    bad = back.filter(~F.array_contains("cells_of_tile", F.col("cell"))).count()
    assert bad == 0


def test_tile_to_cells_partitions_lattice(spark):
    """z=2 tiles tile the plane: each valid cell appears in exactly one tile."""
    t = spark.range(16).select(F.col("id").alias("tile"))
    ex = t.select("tile", F.explode(tiles.tile_to_cells(F.col("tile"), 2, 8)).alias("cell"))
    counts = ex.groupBy("cell").count().filter(F.col("count") != 1).count()
    assert counts == 0
    assert ex.count() == 256  # all 16 digits x 16 refinements covered once


@needs_reference("grid256.geojson")
def test_geojson_scan_matches_conf(spark):
    from co_new_spark.queries.geo_index import g_geojson_scan

    got = g_geojson_scan(spark, "/root/testdata/sf0.001").toPandas()
    assert len(got) == 20
    assert (got.geom_type == "Polygon").all()
    assert (got.n_vertices == 5).all()
    # the 16 covered cells carry the configured digit codes (conf.yaml:24-26)
    dig = {f"{v:x}" for v in grids._L0_JI_TO_DIGIT.values()}  # noqa: SLF001
    codes = {str(c).lower() for c in got.code if c is not None}
    assert dig <= codes


@needs_reference("grid256L0.geojson")
def test_decode_geojson_matches_reference_grid(spark):
    """Generated L0 GeoJSON features reproduce grid256L0.geojson corners."""
    import json as _json

    from co_new_spark.queries.geo_index import g_cell_geojson

    out = {r.cell: r.feature for r in
           g_cell_geojson(spark, "/root/testdata/sf0.001").collect()}
    feats = {}
    with open(os.path.join(reference_data.REF_DIR, "data", "grid256L0.geojson")) as f:
        gj = _json.load(f)
    for ft in gj["features"]:
        feats[str(ft["properties"]["code"]).lower()] = ft["geometry"]["coordinates"][0]
    n_checked = 0
    for cell, feature in out.items():
        parsed = _json.loads(feature)
        code = parsed["properties"]["code"]
        if code not in feats:
            continue
        ours = {(round(p[0], 4), round(p[1], 4)) for p in parsed["geometry"]["coordinates"][0]}
        ref = {(round(p[0], 4), round(p[1], 4)) for p in feats[code]}
        # corner agreement to ~1e-4 deg (the file's own quantization is ~1e-5)
        for pt in ref:
            assert any(abs(pt[0] - o[0]) < 2e-4 and abs(pt[1] - o[1]) < 2e-4
                       for o in ours), (code, pt, ours)
        n_checked += 1
    assert n_checked == 16


def test_tile_cell_edge_alignment_no_double_assignment(spark):
    """z=5/depth=8: tile edges align with cell centers — each cell must
    appear in EXACTLY one tile (half-open windows matching tile_x/tile_y)."""
    t = spark.range(1 << 10).select(F.col("id").alias("tile"))
    ex = t.select("tile", F.explode(tiles.tile_to_cells(F.col("tile"), 5, 8)).alias("cell"))
    dup = ex.groupBy("cell").count().filter(F.col("count") != 1).count()
    assert dup == 0
    assert ex.count() == 256
    # and the assignment agrees with cell_to_tile
    df = spark.range(256).select((F.col("id") * 64 + 8).alias("cell"))
    df = df.withColumn("tile", tiles.cell_to_tile(F.col("cell"), 8, 5))
    j = df.join(ex.withColumnRenamed("tile", "tile2"), "cell")
    assert j.filter(F.col("tile") != F.col("tile2")).count() == 0


def test_tiles_reject_odd_refinement():
    import pytest as _pt
    from pyspark.sql import functions as FF

    with _pt.raises(ValueError, match="even refinement"):
        tiles.cell_to_tile(FF.lit(0), 9, 3)


def test_global_invalid_cell_guards(spark):
    df = spark.createDataFrame([(-1,), (170,)], ["cell"])  # -1 invalid
    lat, lon = global_grid.cell_to_latlng(F.col("cell"), 2)
    got = df.select(lat.alias("lat"), lon.alias("lon"),
                    F.size(global_grid.grid_disk(F.col("cell"), 2, 1)).alias("nd")).collect()
    assert got[0].lat is None and got[0].lon is None and got[0].nd == 0
    assert got[1].lat is not None and got[1].nd > 0


def test_grid_disk_distinct_when_wrap_folds(spark):
    # level 1 (n=2): the 3x3 window folds onto itself in longitude
    df = spark.createDataFrame([(0.0, 0.0)], ["lat", "lon"]) \
        .withColumn("cell", global_grid.latlng_to_cell(F.col("lat"), F.col("lon"), 1)) \
        .withColumn("disk", global_grid.grid_disk(F.col("cell"), 1, 1))
    d = df.select("disk").first().disk
    assert len(d) == len(set(d))  # distinct set, no folded duplicates


def test_pip_edge_dim_overwrites_stale_files():
    """The driver-side edge export must CLEAR its directory first: a stale
    part file from a previous run would double every edge and flip the
    ray-cast parity of every inside point to even (= all outside)."""
    import os

    import numpy as np

    from co_new_spark.queries.geo_index import _write_edges_parquet
    from co_new_spark.queries.mat import mat_path

    path = mat_path("pip_co_edges")
    os.makedirs(path, exist_ok=True)
    stale = os.path.join(path, "part-stale.parquet")
    ev = np.asarray([[0.0, 0.0, 1.0, 1.0]])
    _write_edges_parquet(ev)
    with open(stale, "wb") as fh:
        fh.write(b"junk")
    _write_edges_parquet(ev)
    assert not os.path.exists(stale)
    assert sorted(os.listdir(path)) == ["part-0.parquet"]
