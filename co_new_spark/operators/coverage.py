"""A19 coverage clip as Arrow UDFs: cell geometry ∩ broadcast polygon.

Reproduces the shape of the reference's grid256L0coverage.geojson product
(each L0 cell clipped to the Colombia boundary) for arbitrary polygons and
cell depths: one Arrow crossing computes box + Sutherland–Hodgman clip +
shoelace area per cell (numpy, polygon captured in the UDF closure).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from ..functions import geo
from ..grid import cells as ncells
from ..grid import geometry


def clip_area_udf(ring: np.ndarray):
    frozen = np.asarray(ring, dtype=np.float64).copy()

    def clip_area(cell):
        boxes = np.stack(ncells.cell_b_box(cell), axis=1)
        areas = np.full(len(cell), np.nan)
        ok = np.isfinite(boxes).all(axis=1)
        areas[ok] = geometry.clip_area_to_rects(frozen, boxes[ok])
        return areas

    return geo.kernel_udf(clip_area, DoubleType())


def clip_vertices_udf(ring: np.ndarray):
    """Arrow UDF: cell -> the clipped OPEN ring as array<struct<vx, vy>>
    (empty array = no overlap).  The oracle-split companion of
    clip_area_udf: the S–H kernel's raw float64 vertices get materialized,
    and BOTH engines re-derive the shoelace area from those bytes in the
    same left-fold op order (queries/geo_algebra.g_coverage_clip)."""
    frozen = np.asarray(ring, dtype=np.float64).copy()
    schema = ArrayType(StructType([StructField("vx", DoubleType()),
                                   StructField("vy", DoubleType())]))

    def clip_vertices(cell):
        x0, y0, x1, y1 = ncells.cell_b_box(cell)
        return [[(float(vx), float(vy))
                 for vx, vy in geometry.clip_to_rect(frozen, x0[k], y0[k], x1[k], y1[k])]
                if np.isfinite(x0[k]) else [] for k in range(len(cell))]

    return geo.kernel_udf(clip_vertices, schema)
