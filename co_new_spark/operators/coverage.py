"""A19 coverage clip as Arrow UDFs: cell geometry ∩ broadcast polygon.

Reproduces the shape of the reference's grid256L0coverage.geojson product
(each L0 cell clipped to the Colombia boundary) for arbitrary polygons and
cell depths: one Arrow crossing computes box + Sutherland–Hodgman clip +
shoelace area per cell (numpy, polygon captured in the UDF closure).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..grid import cells as ncells
from ..grid import geometry


def clip_area_udf(ring: np.ndarray):
    frozen = np.asarray(ring, dtype=np.float64).copy()

    @F.pandas_udf(DoubleType())
    def clip_area(cell: pd.Series) -> pd.Series:
        c = cell.to_numpy(dtype=np.int64, na_value=-1)
        x0, y0, x1, y1 = ncells.cell_b_box(c)
        boxes = np.stack([x0, y0, x1, y1], axis=1)
        areas = np.full(len(c), np.nan)
        ok = c >= 0
        areas[ok] = geometry.clip_area_to_rects(frozen, boxes[ok])
        return pd.Series(areas)

    return clip_area


def clip_vertices_udf(ring: np.ndarray):
    """pandas UDF: cell -> the clipped OPEN ring as array<struct<vx, vy>>
    (empty array = no overlap).  The oracle-split companion of
    clip_area_udf: the S–H kernel's raw float64 vertices get materialized,
    and BOTH engines re-derive the shoelace area from those bytes in the
    same left-fold op order (queries/geo_algebra.g_coverage_clip)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    frozen = np.asarray(ring, dtype=np.float64).copy()
    schema = ArrayType(StructType([StructField("vx", DoubleType()),
                                   StructField("vy", DoubleType())]))

    @F.pandas_udf(schema)
    def clip_vertices(cell: pd.Series) -> pd.Series:
        c = cell.to_numpy(dtype=np.int64, na_value=-1)
        x0, y0, x1, y1 = ncells.cell_b_box(c)
        out = []
        for k in range(len(c)):
            if c[k] < 0 or not np.isfinite(x0[k]):
                out.append([])
                continue
            poly = geometry.clip_to_rect(frozen, x0[k], y0[k], x1[k], y1[k])
            out.append([(float(vx), float(vy)) for vx, vy in poly])
        return pd.Series(out, dtype="object")

    return clip_vertices
