"""Point-in-polygon (A20) — numpy even-odd ray casting behind one Arrow crossing.

Semantics evidence: the reference's cover table was produced by intersecting
municipality polygons with grid cells (/root/reference/data/citycover.csv is
the golden output; polygons in /root/reference/data/grid256L0coverage.geojson
and montañitas.geojson), and the north rule requires broadcast PIP joins.

Scale strategy: polygons are broadcast-sized dimension data (driver-side
numpy, captured in the UDF closure).  The hot path prefilters FACT rows with
the polygon's bbox (native codegen predicate, pushed to the scan) or with a
cell-prefix prefilter (cells_sql.cell_contains against a cover of the
polygon), so the Arrow crossing only sees candidate rows.

The crossing test is the standard even-odd rule, written with EXACTLY the
arithmetic shape `x < (xj-xi)*(y-yi)/(yj-yi) + xi` so a SQL restatement
(DuckDB oracle) computes bit-identical float64 results.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import geo


def point_in_rings(x: np.ndarray, y: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd PIP of points vs a polygon given as closed rings (n_i, 2).

    Multiple rings compose by parity (holes flip the bit), matching the
    MultiPolygon/hole semantics of the reference's coverage clips.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    inside = np.zeros(x.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and (r[0] != r[-1]).any():
            r = np.vstack([r, r[:1]])
        xi, yi = r[:-1, 0], r[:-1, 1]
        xj, yj = r[1:, 0], r[1:, 1]
        for k in range(len(xi)):
            cond = (yi[k] > y) != (yj[k] > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xcross = (xj[k] - xi[k]) * (y - yi[k]) / (yj[k] - yi[k]) + xi[k]
            inside ^= cond & (x < xcross)
    return inside


def rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    allv = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    return (float(allv[:, 0].min()), float(allv[:, 1].min()),
            float(allv[:, 0].max()), float(allv[:, 1].max()))


def pip_udf(rings: list[np.ndarray]):
    """Arrow UDF (x, y) -> bool for a fixed broadcast polygon."""
    frozen = [np.asarray(r, dtype=np.float64).copy() for r in rings]

    def inside(x, y):
        return point_in_rings(x, y, frozen)

    return geo.kernel_udf(inside, BooleanType())


def pip_filter(points: DataFrame, rings: list[np.ndarray],
               x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Rows of ``points`` inside the polygon; bbox prefilter stays native.

    The bbox predicate is a superset filter (codegen, pushdown-eligible), so
    the Arrow boundary only sees bbox candidates — at 100 TB that's the
    difference between scanning every row through Python and a pruned scan.
    """
    x0, y0, x1, y1 = rings_bbox(rings)
    cand = points.filter(
        (F.col(x_col) >= x0) & (F.col(x_col) <= x1)
        & (F.col(y_col) >= y0) & (F.col(y_col) <= y1)
    )
    return cand.filter(pip_udf(rings)(F.col(x_col), F.col(y_col)))
