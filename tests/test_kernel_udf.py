"""The null contract of ``functions.geo.kernel_udf``, over every UDF built
on it: each runs on a valid row, a null row, a NaN/-1/'' row and an
out-of-range row (the bits codecs add a null-bits row and a bad-nbits row).
A null or invalid input gives the kernel's sentinel on the way in, and a
NaN or None result comes back as NULL, never as NaN."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from co_new_spark.functions import geo
from co_new_spark.operators import coverage, knn, pip

NAN = float("nan")
LL = ("lat double, lon double", [(4.711111, -74.072222), (None, None), (NAN, NAN), (50.0, -10.0)])
XY = ("x double, y double", [(4881129.64, 2078663.6), (None, None), (NAN, NAN), (1e9, -1e9)])
CELL = ("cell long", [(197772,), (None,), (-1,), ((1 << 6) | 2,)])
A_CODE = ("code string", [("GF1ZDW6NY",), (None,), ("",), ("!!",)])
B_CODE = ("code string", [("c12",), (None,), ("",), ("!!",)])
B16 = ("bits long, nbits long", [(0xC55, 12), (None, None), (-1, -1), (-3, 6), (None, 10), (3, 7)])
B32 = ("bits long, nbits long", [(12345, 15), (None, None), (-1, -1), (-3, 10), (None, 10), (3, 7)])
RING = np.array([[4850000.0, 2050000.0], [4900000.0, 2050000.0],
                 [4900000.0, 2100000.0], [4850000.0, 2100000.0]])

XY_BOG = (4881129.640622368, 2078663.599869567)
XY_OFF = (9160117.909958012, 9229109.340986772)
GEOJSON_C12 = ('{"type":"Feature","properties":{"code":"c12"},"geometry":{"type":"Polygon",'
               '"coordinates":[[[-74.2790466,4.4635704],[-73.9836189,4.4640262],'
               '[-73.984027,4.7605439],[-74.2795771,4.7600578],[-74.2790466,4.4635704]]]}}')
RING_C12 = [196940, 197644, 197708, 197068, 197836, 197452, 198156, 198220]
D2 = [2, 1, 2, 1, 1, 2, 1, 2]
NONE2, NONE4 = (None, None), (None, None, None, None)

# name -> (frame, Columns -> Column, expected rows).  The expected rows are the outputs of
# the per-UDF pandas wrappers this factory replaced, but for two deliberate
# changes: the box and center of an invalid cell are NULL (they were a
# real-looking box), and negative or null bits give a NULL code.
CASES = {
    "encode_a": (LL, lambda a, b: geo.encode_a(a, b),
                 ["HX7VGYKPW", None, None, None]),
    "encode_b_cell": (LL, lambda a, b: geo.encode_b_cell(a, b, 8),
                      [197772, -1, -1, -1]),
    "xy_to_cell_b": (XY, lambda a, b: geo.xy_to_cell_b(a, b, 8),
                     [197772, -1, -1, -1]),
    "latlon_to_xy_cell": (LL, lambda a, b: geo.latlon_to_xy_cell(a, b, 8),
                          [(*XY_BOG, 197772), (None, None, -1), (None, None, -1), (*XY_OFF, -1)]),
    "latlon_to_xy": (LL, geo.latlon_to_xy, [XY_BOG, NONE2, NONE2, XY_OFF]),
    "xy_to_latlon": (XY, geo.xy_to_latlon,
                     [(4.711111001171597, -74.07222200561496), NONE2, NONE2, NONE2]),
    "decode_a_center": (A_CODE, geo.decode_a_center,
                        [(3.4610301812072106, -76.57769991120912), NONE2, NONE2, NONE2]),
    "cell_b_code": (CELL, geo.cell_b_code, ["c12", None, None, "M"]),
    "cell_b_from_code": (B_CODE, geo.cell_b_from_code, [197772, -1, -1, -1]),
    "cell_b_box": (CELL, geo.cell_b_box,
                   [(4858148.0, 2051344.0, 4890916.0, 2084112.0), NONE4, NONE4, NONE4]),
    "cell_b_center": (CELL, geo.cell_b_center,
                      [(4874532.0, 2067728.0), NONE2, NONE2, NONE2]),
    "cell_b_geojson": (CELL, geo.cell_b_geojson, [GEOJSON_C12, None, None, None]),
    "b16h_string": (B16, geo.b16h_string, ["c55", None, None, None, None, "0P"]),
    "b32nvu_string": (B32, geo.b32nvu_string, ["D1T", None, None, None, None, None]),
    "ring_cells": (CELL, knn.ring_cells_udf(1), [RING_C12 + [197772], [], [], [66]]),
    "ring_cells_d2": (CELL, knn.ring_cells_d2_udf(1),
                      [list(zip(RING_C12, D2)), [], [], []]),
    "inside": (XY, pip.pip_udf([RING]), [True, False, False, False]),
    "clip_area": (CELL, coverage.clip_area_udf(RING), [1073741824.0, None, None, None]),
    "clip_vertices": (CELL, coverage.clip_vertices_udf(RING),
                      [[(4890916.0, 2051344.0), (4890916.0, 2084112.0),
                        (4858148.0, 2084112.0), (4858148.0, 2051344.0)], [], [], []]),
}


def _plain(v):
    """A collected value with Rows as plain tuples."""
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    return v


def _same(got, want):
    """Equal, with floats to 1e-12 relative; NaN never equals NULL."""
    if isinstance(want, float):
        return isinstance(got, float) and math.isclose(got, want, rel_tol=1e-12)
    if isinstance(want, (tuple, list)):
        return (isinstance(got, type(want)) and len(got) == len(want)
                and all(_same(g, w) for g, w in zip(got, want)))
    return got == want and type(got) is type(want)


@pytest.mark.parametrize("name", list(CASES))
def test_null_contract(spark, name):
    (schema, rows), udf, want = CASES[name]
    df = spark.createDataFrame(rows, schema).coalesce(1)   # one Arrow batch
    got = [_plain(r[0]) for r in df.select(udf(*map(F.col, df.columns))).collect()]
    assert _same(got, want), (got, want)


def test_udfs_keep_their_names_and_docstrings():
    """Plans show the kernel's name; the UDF keeps its docstring."""
    for udf in (geo.latlon_to_xy, geo.cell_b_box, geo.cell_b_code, geo.b16h_string,
                geo.cell_b_geojson, geo.decode_a_center):
        assert udf.__doc__
    assert geo.cell_b_box.__name__ == "cell_b_box"
    assert geo._encode_b_cell_udf(8).__name__ == "enc"
    assert knn.ring_cells_udf(1).__name__ == "ring_cells"
