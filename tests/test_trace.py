"""Segment -> cell trace (operators/trace.py)."""

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_endpoint_cells_always_included(spark):
    from co_new_spark.functions import geo
    from co_new_spark.queries.geospatial import _event_points, g_segment_cells

    out = g_segment_cells(spark, SF_DIR)
    cells = {(r["event_id"], r["cell"]) for r in out.collect()}
    pts = _event_points(spark, SF_DIR).filter(F.col("event_id") < 100) \
        .withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 8))
    for r in pts.filter(F.col("cell") >= 0).collect():
        assert (r["event_id"], r["cell"]) in cells


def test_degenerate_segment_is_single_cell(spark):
    from co_new_spark.operators.trace import segment_cells

    # centre of L0 cell ji=22 (the 'c' cell) — guaranteed on-grid
    df = spark.createDataFrame([(1, 3678500.0 + 2.5 * 524288, 970000.0 + 2.5 * 524288)],
                               "sid long, x double, y double")
    out = segment_cells(df, F.col("x"), F.col("y"), F.col("x"), F.col("y"),
                        rbits=8, keep=["sid"])
    assert out.count() == 1


def test_cell_count_bounded_by_samples(spark):
    from co_new_spark.queries.geospatial import g_segment_cells

    per_seg = (g_segment_cells(spark, SF_DIR)
               .groupBy("event_id").agg(F.count("*").alias("n")).collect())
    assert per_seg
    for r in per_seg:
        assert 1 <= r["n"] <= 65


def test_power_of_two_guard():
    from co_new_spark.operators.trace import segment_cells

    with pytest.raises(ValueError):
        segment_cells(None, None, None, None, None, rbits=8, n_samples=60)


def test_bbox_prefilter_is_lossless(spark):
    """Cell-IN prefilter + exact predicate == plain exact predicate."""
    from co_new_spark.queries.geospatial import _BBOX, _event_points, g_bbox_query

    xmin, ymin, xmax, ymax = _BBOX
    got = g_bbox_query(spark, SF_DIR).first()
    plain = _event_points(spark, SF_DIR).filter(
        (F.col("x") >= xmin) & (F.col("x") < xmax)
        & (F.col("y") >= ymin) & (F.col("y") < ymax))
    assert got["n_points"] == plain.count() > 0


def test_bbox_cover_cells_bound_and_valid(spark):
    from co_new_spark.queries.geospatial import _BBOX, _bbox_cover_cells

    cells = _bbox_cover_cells(*_BBOX)
    # bbox area / cell area bounds the enumeration (plus one boundary row/col)
    w = 524288.0 / 16
    nx = int((_BBOX[2] - _BBOX[0]) / w) + 2
    ny = int((_BBOX[3] - _BBOX[1]) / w) + 2
    assert 0 < len(cells) <= nx * ny
    assert len(set(cells)) == len(cells)
    assert all(c & 63 == 12 for c in cells)
