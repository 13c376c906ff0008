"""Geospatial Spark surface: Arrow-batched UDFs + native Column helpers.

Design rule (SURVEY.md §3.1): projection + morton + codec run inside a
*single* UDF per direction so each row crosses the Arrow boundary once; the
text geocode kernels are Arrow UDFs (``pa.Array`` in and out, no pandas).
Everything that can stay JVM-side (geo-URI parsing, hierarchy algebra, tile
math) is a native Column expression, not a UDF.

Reference parity anchors:
* encode semantics — /root/reference/src/assert/gridLib.sql:6-11
* grid parameters — /root/reference/conf.yaml:21-33
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..grid import cells, grids, proj
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
# A2/A4/A6 composed: encode UDF factories (one Arrow crossing per direction)
# ---------------------------------------------------------------------------

def _to_np(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.float64, na_value=np.nan)


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
    @F.pandas_udf(StringType())
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        codes = grids.osmcode_encode_a(_to_np(lat), _to_np(lon), ndigits)
        out = pd.Series(codes, dtype="object")
        out[out == ""] = None
        return out

    return enc


def encode_a(lat: Column, lon: Column, ndigits: int = 9) -> Column:
    """(lat, lon) -> Grid A base32nvu code (osmcode_encode); NULL off-grid."""
    return _encode_a_udf(ndigits)(lat, lon)


@lru_cache(maxsize=None)
def _encode_b_cell_udf(rbits: int):
    @F.pandas_udf(LongType())
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        x, y = proj.forward(_to_np(lat), _to_np(lon))
        return pd.Series(cells.cell_b_from_xy(x, y, rbits))

    return single_eval(enc)


def encode_b_cell(lat: Column, lon: Column, rbits: int) -> Column:
    """(lat, lon) -> canonical Grid B cell long at ``rbits`` refinement; -1 off-grid."""
    return _encode_b_cell_udf(rbits)(lat, lon)


@lru_cache(maxsize=None)
def _xy_cell_udf(rbits: int):
    @F.pandas_udf(LongType())
    def enc(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(cells.cell_b_from_xy(_to_np(x), _to_np(y), rbits))

    return single_eval(enc)


def xy_to_cell_b(x: Column, y: Column, rbits: int) -> Column:
    """EPSG:9377 planar (x, y) -> Grid B cell long (projection already done)."""
    return _xy_cell_udf(rbits)(x, y)


_LATLON = StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())])
_XY = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
_XYC = StructType([StructField("x", DoubleType()), StructField("y", DoubleType()),
                   StructField("cell", LongType())])
_BOX = StructType([StructField(n, DoubleType()) for n in ("xmin", "ymin", "xmax", "ymax")])


@lru_cache(maxsize=None)
def _latlon_to_xy_cell_udf(rbits: int):
    @F.pandas_udf(_XYC)
    def enc(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        x, y = proj.forward(_to_np(lat), _to_np(lon))
        return pd.DataFrame({"x": x, "y": y,
                             "cell": cells.cell_b_from_xy(x, y, rbits)})

    return single_eval(enc)


def latlon_to_xy_cell(lat: Column, lon: Column, rbits: int) -> Column:
    """(lat, lon) -> struct(x, y, cell): projection + encode in ONE crossing.

    Use this instead of chaining latlon_to_xy |> xy_to_cell_b — each chained
    pandas UDF in a stage holds its own Python worker per task, and a filter
    on the chain's output re-evaluates the whole chain.
    """
    return _latlon_to_xy_cell_udf(rbits)(lat, lon)


@F.pandas_udf(_XY)
def latlon_to_xy(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    """Forward EPSG:9377 projection (A2)."""
    x, y = proj.forward(_to_np(lat), _to_np(lon))
    return pd.DataFrame({"x": x, "y": y})


@F.pandas_udf(_LATLON)
def xy_to_latlon(x: pd.Series, y: pd.Series) -> pd.DataFrame:
    """Inverse EPSG:9377 projection (A3)."""
    la, lo = proj.inverse(_to_np(x), _to_np(y))
    return pd.DataFrame({"lat": la, "lon": lo})


@F.pandas_udf(_LATLON)
def decode_a_center(code: pd.Series) -> pd.DataFrame:
    """Grid A base32nvu code -> cell-center (lat, lon) (osmcode_decode, A10)."""
    la, lo = grids.osmcode_decode_a(code.fillna("").to_numpy(dtype=object))
    return pd.DataFrame({"lat": la, "lon": lo})


@F.pandas_udf(StringType())
def cell_b_code(cell: pd.Series) -> pd.Series:
    """Canonical Grid B cell long -> base16h string; NULL for -1."""
    c = cell.to_numpy(dtype=np.int64, na_value=-1)
    out = pd.Series(cells.cell_b_to_code(c), dtype="object")
    out[c < 0] = None
    return out


@F.pandas_udf(LongType())
def cell_b_from_code(code: pd.Series) -> pd.Series:
    """base16h string -> canonical Grid B cell long; -1 invalid."""
    return pd.Series(cells.cell_b_from_code(code.fillna("").to_numpy(dtype=object)))


@F.pandas_udf(_BOX)
def cell_b_box(cell: pd.Series) -> pd.DataFrame:
    """Grid B cell long -> EPSG:9377 bounding box (A5/A16)."""
    x0, y0, x1, y1 = cells.cell_b_box(cell.to_numpy(dtype=np.int64, na_value=-1))
    return pd.DataFrame({"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1})


@F.pandas_udf(_XY)
def cell_b_center(cell: pd.Series) -> pd.DataFrame:
    cx, cy = cells.cell_b_center(cell.to_numpy(dtype=np.int64, na_value=-1))
    return pd.DataFrame({"x": cx, "y": cy})


def _parse_latlon(text: pa.Array, *patterns: str):
    """Text -> (lat, lon) float64 arrays, NaN where no pattern matches or
    the text is null.

    ``patterns`` are functions.text's named-group grammars (single source;
    RE2-safe constructs, so Java/RE2/Python engines agree — see text.py
    note), tried in order; a later one runs only when some rows missed.
    RE2 via pyarrow.compute (~4x pandas str.extract)."""
    lat = lon = None
    for pat in patterns:
        g = pc.extract_regex(text, pat)
        if lat is None:
            lat, lon = pc.struct_field(g, "lat"), pc.struct_field(g, "lon")
        else:
            lat = pc.coalesce(lat, pc.struct_field(g, "lat"))
            lon = pc.coalesce(lon, pc.struct_field(g, "lon"))
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


@F.pandas_udf(StringType())
def cell_b_geojson(cell: pd.Series) -> pd.Series:
    """Grid B cell -> GeoJSON Feature string (WGS84 ring + base16h code).

    The visualization sink of the reference's decode path
    (osmcode_decode_polyXY -> GeoJSON, /root/reference/src/assert/
    gridLib.sql:15-16 + README.md:109-114; the grid256*.geojson files are
    exactly such products).  Deterministic 7-decimal formatting.
    """
    import json as _json

    c = cell.to_numpy(dtype=np.int64, na_value=-1)
    x0, y0, x1, y1 = cells.cell_b_box(c)
    codes = cells.cell_b_to_code(c)
    out = []
    for k in range(len(c)):
        if c[k] < 0 or not np.isfinite(x0[k]):
            out.append(None)
            continue
        xs = np.array([x0[k], x1[k], x1[k], x0[k], x0[k]])
        ys = np.array([y0[k], y0[k], y1[k], y1[k], y0[k]])
        la, lo = proj.inverse(xs, ys)
        ring = [[round(float(o), 7), round(float(a), 7)] for o, a in zip(lo, la)]
        out.append(_json.dumps({
            "type": "Feature",
            "properties": {"code": str(codes[k])},
            "geometry": {"type": "Polygon", "coordinates": [ring]},
        }, separators=(",", ":")))
    return pd.Series(out, dtype="object")


@F.pandas_udf(StringType())
def b16h_string(bits: pd.Series, nbits: pd.Series) -> pd.Series:
    """Generic (bits, nbits) -> base16h string (suffix-letter grammar §1.5).

    Used for shortcode suffixes (A23): the trailing bits below a jurisdiction's
    cover-cell prefix re-encoded standalone.  NULL where nbits < 0.
    """
    from ..grid.codec import b16h_encode

    b = bits.to_numpy(dtype=np.uint64, na_value=0)
    nb = nbits.to_numpy(dtype=np.int64, na_value=-1)
    out = pd.Series(b16h_encode(b, np.maximum(nb, 0)), dtype="object")
    out[nb < 0] = None
    return out


@F.pandas_udf(StringType())
def b32nvu_string(bits: pd.Series, nbits: pd.Series) -> pd.Series:
    """Generic (bits, nbits) -> base32nvu string (logistic codes, A23).

    Grammar per /root/reference/conf.yaml:33 (``log_base: 32nvu``): 5 bits
    per character, MSB first — so ``nbits`` must be a multiple of 5; NULL
    where it is not (or negative), never a silently truncated code.
    """
    from ..grid.codec import b32nvu_encode

    b = bits.to_numpy(dtype=np.uint64, na_value=0)
    nb = nbits.to_numpy(dtype=np.int64, na_value=-1)
    bad = (nb < 0) | (nb % 5 != 0)
    out = pd.Series(b32nvu_encode(b, np.where(bad, 0, nb)), dtype="object")
    out[bad] = None
    return out


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
