"""Geospatial Spark surface: Arrow-batched UDFs + native Column helpers.

Design rule (SURVEY.md §3.1): projection + morton + codec run inside a
*single* UDF per direction so each row crosses the Arrow boundary once, with
no pandas: a numpy kernel crosses through ``kernel_udf`` (the one null
contract), the text geocode kernels are Arrow UDFs over RE2.  Everything
that can stay JVM-side (geo-URI parsing, hierarchy algebra, tile math) is a
native Column expression, not a UDF.

Reference parity anchors:
* encode semantics — /root/reference/src/assert/gridLib.sql:6-11
* grid parameters — /root/reference/conf.yaml:21-33
"""

from __future__ import annotations

import json
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from ..grid import cells, grids, proj
from ..grid.codec import b16h_encode, b32nvu_encode
from . import text as tx

# ---------------------------------------------------------------------------
# A1: geo-URI parsing — pure native Columns (no UDF)
# ---------------------------------------------------------------------------

def geo_uri_lat(uri: Column) -> Column:
    """'geo:LAT,LON' -> lat double (NULL if not a geo URI).

    Pattern shared with functions.text (single grammar source)."""
    s = F.regexp_extract(uri, tx.GEO_URI_RE, 1)
    return F.when(s != "", s.cast("double"))


def geo_uri_lon(uri: Column) -> Column:
    s = F.regexp_extract(uri, tx.GEO_URI_RE, 2)
    return F.when(s != "", s.cast("double"))


# ---------------------------------------------------------------------------
# A2/A4/A6 composed: one Arrow crossing per direction, one null contract
# ---------------------------------------------------------------------------

def _np(a: pa.Array) -> np.ndarray:
    """An Arrow argument as the numpy array its kernel reads: integers as
    int64 with -1 for null, floats as float64 with NaN for null, strings as
    an object array with '' for null."""
    if pa.types.is_integer(a.type):
        return pc.fill_null(a, -1).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if pa.types.is_floating(a.type):
        return pc.cast(a, pa.float64()).to_numpy(zero_copy_only=False)  # null -> NaN
    return pc.fill_null(a, "").to_numpy(zero_copy_only=False)


def _arrow(v, t: pa.DataType) -> pa.Array:
    """A kernel result as an Arrow array of type ``t``: a tuple fills the
    fields of a struct in order.  NaN and None become null, as in a pandas
    UDF (an invalid box must sum as missing, not as NaN)."""
    if isinstance(v, tuple):
        return pa.StructArray.from_arrays(
            [_arrow(f, t.field(i).type) for i, f in enumerate(v)], fields=list(t))
    return pa.array(v, t, from_pandas=True)


def kernel_udf(kernel, out_type):
    """``kernel`` (numpy arrays in; an array, a list of rows, or a tuple of
    those for a struct out) as a scalar Arrow UDF returning ``out_type``.
    Arguments cross by ``_np`` and the result by ``_arrow``.  The UDF keeps
    the kernel's name, which plans show, and its docstring."""
    t = to_arrow_type(out_type)

    def udf(*cols: pa.Array) -> pa.Array:
        return _arrow(kernel(*map(_np, cols)), t)

    udf.__name__, udf.__doc__ = kernel.__name__, kernel.__doc__
    return F.arrow_udf(udf, out_type)


def single_eval(udf):
    """Mark a deterministic UDF so every row evaluates it exactly once.

    Catalyst pushes a filter on a UDF's output below its projection by
    copying the UDF into the filter, so ``filter(cell >= 0)`` would run the
    kernel twice (two ArrowEvalPython nodes).  A non-deterministic
    expression is a boundary no filter crosses.  The costs: filters on other
    columns stay above the UDF too (apply them first), and a stage retry
    treats a shuffle keyed on the output as indeterminate and re-runs it."""
    return udf.asNondeterministic()


@lru_cache(maxsize=None)
def _encode_a_udf(ndigits: int):
    def enc(lat, lon):
        codes = grids.osmcode_encode_a(lat, lon, ndigits)
        return np.where(codes == "", None, codes)

    return kernel_udf(enc, StringType())


def encode_a(lat: Column, lon: Column, ndigits: int = 9) -> Column:
    """(lat, lon) -> Grid A base32nvu code (osmcode_encode); NULL off-grid."""
    return _encode_a_udf(ndigits)(lat, lon)


@lru_cache(maxsize=None)
def _encode_b_cell_udf(rbits: int):
    def enc(lat, lon):
        return cells.cell_b_from_xy(*proj.forward(lat, lon), rbits)

    return single_eval(kernel_udf(enc, LongType()))


def encode_b_cell(lat: Column, lon: Column, rbits: int) -> Column:
    """(lat, lon) -> canonical Grid B cell long at ``rbits`` refinement; -1 off-grid."""
    return _encode_b_cell_udf(rbits)(lat, lon)


@lru_cache(maxsize=None)
def _xy_cell_udf(rbits: int):
    def enc(x, y):
        return cells.cell_b_from_xy(x, y, rbits)

    return single_eval(kernel_udf(enc, LongType()))


def xy_to_cell_b(x: Column, y: Column, rbits: int) -> Column:
    """EPSG:9377 planar (x, y) -> Grid B cell long (projection already done)."""
    return _xy_cell_udf(rbits)(x, y)


_LATLON = StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())])
_XY = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
_XYC = StructType([*_XY.fields, StructField("cell", LongType())])
_BOX = StructType([StructField(n, DoubleType()) for n in ("xmin", "ymin", "xmax", "ymax")])


@lru_cache(maxsize=None)
def _latlon_to_xy_cell_udf(rbits: int):
    def enc(lat, lon):
        x, y = proj.forward(lat, lon)
        return x, y, cells.cell_b_from_xy(x, y, rbits)

    return single_eval(kernel_udf(enc, _XYC))


def latlon_to_xy_cell(lat: Column, lon: Column, rbits: int) -> Column:
    """(lat, lon) -> struct(x, y, cell): projection + encode in ONE crossing.

    Use this instead of chaining latlon_to_xy |> xy_to_cell_b — each chained
    Arrow UDF in a stage holds its own Python worker per task, and a filter
    on the chain's output re-evaluates the whole chain.
    """
    return _latlon_to_xy_cell_udf(rbits)(lat, lon)


def latlon_to_xy(lat, lon):
    """Forward EPSG:9377 projection (A2)."""
    return proj.forward(lat, lon)


def xy_to_latlon(x, y):
    """Inverse EPSG:9377 projection (A3)."""
    return proj.inverse(x, y)


def decode_a_center(code):
    """Grid A base32nvu code -> cell-center (lat, lon) (osmcode_decode, A10)."""
    return grids.osmcode_decode_a(code)


def cell_b_code(cell):
    """Canonical Grid B cell long -> base16h string; NULL for -1."""
    return np.where(cell < 0, None, cells.cell_b_to_code(cell))


def cell_b_from_code(code):
    """base16h string -> canonical Grid B cell long; -1 invalid."""
    return cells.cell_b_from_code(code)


def cell_b_box(cell):
    """Grid B cell long -> EPSG:9377 bounding box (A5/A16); NULL for -1."""
    return cells.cell_b_box(cell)


def cell_b_center(cell):
    return cells.cell_b_center(cell)


def _parse_latlon(text: pa.Array, *patterns: str):
    """Text -> (lat, lon) float64 arrays, NaN where no pattern matches or
    the text is null.

    ``patterns`` are functions.text's named-group grammars (single source;
    RE2-safe constructs, so Java/RE2/Python engines agree — see text.py
    note), tried in order; a later one runs only over the rows every
    earlier one missed.  RE2 via pyarrow.compute (~4x pandas str.extract)."""
    lat = lon = None
    for pat in patterns:
        if lat is None:
            g = pc.extract_regex(text, pat)
            lat, lon = pc.struct_field(g, "lat"), pc.struct_field(g, "lon")
        else:
            miss = pc.is_null(lat)
            g = pc.extract_regex(pc.filter(text, miss), pat)
            lat = pc.replace_with_mask(lat, miss, pc.struct_field(g, "lat"))
            lon = pc.replace_with_mask(lon, miss, pc.struct_field(g, "lon"))
        if not lat.null_count:
            break
    return (pc.cast(lat, pa.float64()).to_numpy(zero_copy_only=False),
            pc.cast(lon, pa.float64()).to_numpy(zero_copy_only=False))


def cells_from_text(text: pa.Array, rbits: int) -> np.ndarray:
    """Geoparse (geo: URI first, then a plain decimal pair) + project +
    Grid B encode: text -> cell longs at ``rbits``; -1 where no coordinates
    or off-grid.  The numpy body of every fused text geocode kernel."""
    lat, lon = _parse_latlon(text, tx.GEO_URI_RE_NAMED, tx.PLAIN_PAIR_RE_NAMED)
    # rows without coordinates project as (0, 0) and are masked after:
    # NaN inputs take a slow path through the TM transcendentals
    ok = np.isfinite(lat) & np.isfinite(lon)
    x, y = proj.forward(np.where(ok, lat, 0.0), np.where(ok, lon, 0.0))
    return np.where(ok, cells.cell_b_from_xy(x, y, rbits), -1)


@lru_cache(maxsize=None)
def _encode_b_cell_from_text_udf(rbits: int):
    @F.arrow_udf(LongType())
    def enc(text: pa.Array) -> pa.Array:
        return pa.array(cells_from_text(text, rbits))

    return single_eval(enc)


def encode_b_cell_from_text(text: Column, rbits: int) -> Column:
    """A27+A2+A4 fused: geoparse text (geo: URI first, plain decimal pair
    fallback — same precedence as functions.text.parse_lat) + project +
    encode to a Grid B cell in ONE Arrow crossing; -1 where no coordinates
    or off-grid.  This is the flagship hot path: regex runs vectorized in
    pyarrow's RE2 instead of four interpreted JVM regexp_extracts per row,
    on the Arrow batch as it arrives (Arrow in and out, no pandas).
    """
    return _encode_b_cell_from_text_udf(rbits)(text)


def cell_b_geojson(cell):
    """Grid B cell -> GeoJSON Feature string (WGS84 ring + base16h code).

    The visualization sink of the reference's decode path
    (osmcode_decode_polyXY -> GeoJSON, /root/reference/src/assert/
    gridLib.sql:15-16 + README.md:109-114; the grid256*.geojson files are
    exactly such products).  Deterministic 7-decimal formatting.
    """
    x0, y0, x1, y1 = cells.cell_b_box(cell)
    codes = cells.cell_b_to_code(cell)

    def feature(k):
        la, lo = proj.inverse(np.array([x0[k], x1[k], x1[k], x0[k], x0[k]]),
                              np.array([y0[k], y0[k], y1[k], y1[k], y0[k]]))
        ring = [[round(float(o), 7), round(float(a), 7)] for o, a in zip(lo, la)]
        return json.dumps({
            "type": "Feature",
            "properties": {"code": str(codes[k])},
            "geometry": {"type": "Polygon", "coordinates": [ring]},
        }, separators=(",", ":"))

    return [feature(k) if np.isfinite(x0[k]) else None for k in range(len(cell))]


def b16h_string(bits, nbits):
    """Generic (bits, nbits) -> base16h string (suffix-letter grammar §1.5).

    Used for shortcode suffixes (A23): the trailing bits below a jurisdiction's
    cover-cell prefix re-encoded standalone.  NULL where bits or nbits < 0.
    """
    bad = (bits < 0) | (nbits < 0)
    return np.where(bad, None, b16h_encode(np.where(bad, 0, bits), np.where(bad, 0, nbits)))


def b32nvu_string(bits, nbits):
    """Generic (bits, nbits) -> base32nvu string (logistic codes, A23).

    Grammar per /root/reference/conf.yaml:33 (``log_base: 32nvu``): 5 bits
    per character, MSB first — so ``nbits`` must be a multiple of 5; NULL
    where it is not (or where bits or nbits is negative), never a silently
    truncated code.
    """
    bad = (bits < 0) | (nbits < 0) | (nbits % 5 != 0)
    return np.where(bad, None, b32nvu_encode(np.where(bad, 0, bits), np.where(bad, 0, nbits)))


latlon_to_xy = kernel_udf(latlon_to_xy, _XY)
xy_to_latlon = kernel_udf(xy_to_latlon, _LATLON)
decode_a_center = kernel_udf(decode_a_center, _LATLON)
cell_b_code = kernel_udf(cell_b_code, StringType())
cell_b_from_code = kernel_udf(cell_b_from_code, LongType())
cell_b_box = kernel_udf(cell_b_box, _BOX)
cell_b_center = kernel_udf(cell_b_center, _XY)
cell_b_geojson = kernel_udf(cell_b_geojson, StringType())
b16h_string = kernel_udf(b16h_string, StringType())
b32nvu_string = kernel_udf(b32nvu_string, StringType())


@F.arrow_udf(StringType())
def encode_a_from_uri(uri: pa.Array) -> pa.Array:
    """'geo:LAT,LON' -> 9-digit Grid A code in ONE Arrow crossing (A8 fused).

    The fully-fused fast path for the flagship pipeline: regex parse is also
    available natively (geo_uri_lat/lon) when the plan wants pushdown first;
    both read the one geo: URI grammar, so they agree on every input.
    """
    lat, lon = _parse_latlon(uri, tx.GEO_URI_RE_NAMED)
    codes = grids.osmcode_encode_a(lat, lon, 9)
    return pa.array(codes, pa.string(), mask=(codes == "") | ~np.isfinite(lat))
