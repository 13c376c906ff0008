"""Tests: shoelace area (A24) + Sutherland–Hodgman rect clipping (A19)."""

import numpy as np
from pyspark.sql import functions as F

from co_new_spark.grid.geometry import clip_area_to_rects, clip_to_rect, shoelace_area
from conftest import needs_reference

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])


def test_shoelace_basics():
    assert shoelace_area(SQUARE) == 16.0
    tri = np.array([[0, 0], [1, 0], [0, 1]], dtype=float)
    assert shoelace_area(tri) == 0.5
    assert shoelace_area(np.array([[0.0, 0.0], [1.0, 1.0]])) == 0.0
    # orientation-insensitive
    assert shoelace_area(SQUARE[::-1]) == 16.0


def test_clip_identity_and_disjoint():
    inside = clip_to_rect(SQUARE, -1, -1, 5, 5)
    assert shoelace_area(inside) == 16.0
    assert len(clip_to_rect(SQUARE, 10, 10, 12, 12)) == 0


def test_clip_partial():
    half = clip_to_rect(SQUARE, 2, 0, 6, 4)
    assert shoelace_area(half) == 8.0
    corner = clip_to_rect(SQUARE, 3, 3, 9, 9)
    assert shoelace_area(corner) == 1.0


def test_clip_partition_sums_to_total():
    """Clipping a random polygon by a grid of rects partitions its area."""
    rng = np.random.default_rng(5)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
    ring = np.stack([3 + 2.5 * np.cos(ang), 3 + 2.5 * np.sin(ang)], axis=1)
    total = shoelace_area(ring)
    boxes = [(x, y, x + 1.0, y + 1.0) for x in range(7) for y in range(7)]
    areas = clip_area_to_rects(ring, np.array(boxes, dtype=float) - 0.5)
    assert abs(areas.sum() - total) < 1e-9 * max(total, 1)


def test_concave_polygon_clip():
    # L-shaped (concave) polygon, area 3
    ell = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)
    assert shoelace_area(ell) == 3.0
    left = clip_to_rect(ell, 0, 0, 1, 2)
    assert shoelace_area(left) == 2.0
    lowright = clip_to_rect(ell, 1, 0, 2, 2)
    assert shoelace_area(lowright) == 1.0


def test_coverage_clip_query_partitions_polygon(spark):
    """Sum of per-cell clip areas over the full grid == polygon area."""
    from co_new_spark.queries.geo_algebra import _POLY, g_coverage_clip

    out = g_coverage_clip(spark, "/root/testdata/sf0.001")
    got = out.agg(F.sum("clip_area")).first()[0]
    exact = shoelace_area(_POLY)
    assert abs(got - exact) / exact < 1e-6
    assert out.count() > 10  # polygon spans many cells


def test_polygon_cover_generation(spark):
    """§3.2 cover production: full+border cells partition the polygon area,
    and interior points always have a cover ancestor (citycover semantics)."""
    import numpy as np

    from co_new_spark.functions import geo
    from co_new_spark.grid import cells as ncells
    from co_new_spark.operators.cover_gen import polygon_cover
    from co_new_spark.queries.geo_algebra import _POLY

    cov = polygon_cover(spark, _POLY, base_depth=8, max_depth=12).cache()
    rows = cov.collect()
    total = sum(r.area_m2 for r in rows)
    exact = shoelace_area(_POLY)
    assert abs(total - exact) / exact < 1e-9

    # full cells are disjoint (no cell is an ancestor of another full cell)
    full = sorted(r.cell for r in rows if r.kind == "full")
    iv = [ncells.interval(np.array([c]))[0][0] for c in full]
    hi = [ncells.interval(np.array([c]))[1][0] for c in full]
    order = np.argsort(iv)
    for a, b in zip(order[:-1], order[1:]):
        assert hi[a] <= iv[b], "overlapping full cells"

    # interior points resolve to some cover cell by prefix ancestry
    pts = np.array([[4.8e6, 2.0e6], [5.0e6, 2.1e6], [4.6e6, 1.9e6]])
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts], ["x", "y"]) \
        .withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 22))
    pcells = [r.cell for r in df.collect()]
    allc = np.array([r.cell for r in rows])
    for pc in pcells:
        anc = ncells.contains(allc, np.full(allc.shape, pc))
        assert anc.any()
    cov.unpersist()


@needs_reference("grid256L0coverage.geojson")
def test_clip_preserves_reference_coverage_polygons():
    """S–H clip on the REAL 40k-vertex coverage clips: clipping each L0
    coverage feature to its own cell box is the identity (area-preserving);
    clipping to a far-away box is empty."""
    import numpy as np

    from co_new_spark.grid import cells as ncells
    from co_new_spark.grid.geometry import clip_to_rect
    from co_new_spark.sources.reference_data import load_admin_polygons

    feats = load_admin_polygons()
    assert len(feats) == 16
    n_vertices = sum(len(r) for f in feats for r in f["rings"])
    assert n_vertices > 39_000

    checked = 0
    for f in feats:
        code = str(f["properties"].get("code", "")).lower()
        try:
            digit = int(code, 16)
        except ValueError:
            continue
        cell = np.array([(digit << 6) | 4])
        x0, y0, x1, y1 = ncells.cell_b_box(cell)
        for ring in f["rings"][:3]:
            a0 = shoelace_area(ring)
            clipped = clip_to_rect(ring, x0[0] - 1, y0[0] - 1, x1[0] + 1, y1[0] + 1)
            assert abs(shoelace_area(clipped) - a0) <= 1e-6 * max(a0, 1.0)
            far = clip_to_rect(ring, x0[0] - 9e6, y0[0] - 9e6,
                               x0[0] - 8e6, y0[0] - 8e6)
            assert shoelace_area(far) == 0.0
        checked += 1
    assert checked == 16


@needs_reference("grid256L0coverage.geojson")
def test_pip_against_reference_coverage(spark):
    """Pages points PIP-joined against the real Colombia land+sea coverage:
    on-grid geocoded points overwhelmingly fall inside; Iberia points never."""
    import numpy as np

    from co_new_spark.functions import geo
    from co_new_spark.operators.pip import point_in_rings
    from co_new_spark.sources.pages import pages
    from co_new_spark.sources.reference_data import load_admin_polygons

    rings = [r for f in load_admin_polygons() for r in f["rings"]]
    pg = pages(spark, 2_000, with_truth=True)
    pts = pg.select("true_lat", "true_lon").toPandas()
    from co_new_spark.grid import proj
    x, y = proj.forward(pts.true_lat.to_numpy(), pts.true_lon.to_numpy())
    on_grid = (pts.true_lat < 20).to_numpy()  # Iberia branch is lat >= 38
    inside = point_in_rings(x, y, rings)
    # the coverage clips are Colombia land+sea only (~47% of the 16-cell
    # area); on-grid points spread over whole cells, so well under 1.0 but
    # far above the Iberia control, and the Bogotá hotspot is always inside
    frac = inside[on_grid].mean()
    assert 0.35 < frac < 0.95, frac
    assert not inside[~on_grid].any()
    bog = point_in_rings(*proj.forward(np.array([4.711111]), np.array([-74.072222])), rings)
    assert bog[0]
