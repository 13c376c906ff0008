"""Pins of the lattice and codec oracles: the DuckDB oracles that walk the
global cell lattice (sql_grid's (gi, gj), lattice_cell and KING) or spell a
cell code or the L0 digit inverse (b16h_code, b32_code, l0_j_case /
l0_i_case).  Each pin is the row count, column types and rowset sha at
sf0.001 and sf0.01, so a change to one of those restatements shows here
without the Spark sweep of tools/check_oracle.py.  The sha is that tool's
``sha=`` (rowset_sha of rowset).  sf0.01 is what tells geo_cell_hops from
geo_cost_surface: both return the same rows at sf0.001."""

import functools
import os

import duckdb
import pytest
from conftest import SF_DIR

from co_new_spark.queries import oracle_sqls
from tools.check_oracle import connect, rowset, rowset_sha

_T = {"B": "BIGINT", "D": "DOUBLE", "L": "BOOLEAN", "V": "VARCHAR"}

# name: (column types as _T letters, {scale: (rows, sha)})
PINS = {
    "geo_focal_sum": ("BBB", {"sf0.001": (1008, "99c078b3256f6ac2"),
                              "sf0.01": (1024, "8ee66930e6697f1a")}),
    "geo_grid_cluster": ("BBB", {"sf0.001": (32, "720c5cc2f3505301"),
                                 "sf0.01": (18, "a7daff77ea2bac62")}),
    "geo_hotspot_gi": ("BBBBB", {"sf0.001": (307, "bb23c4bfe14af78e"),
                                 "sf0.01": (774, "d35ac2fab72e5e60")}),
    "geo_morans_i": ("BBBB", {"sf0.001": (1, "70a65c2762ba0e25"),
                              "sf0.01": (1, "2c66a626afd03bac")}),
    "geo_idw_fill": ("BBBBB", {"sf0.001": (701, "c0db999ecd072b8b"),
                               "sf0.01": (250, "bf9266dda6261e0d")}),
    "geo_semivariogram": ("BBBB", {"sf0.001": (5, "5a14c6c2da3a4d43"),
                                   "sf0.01": (5, "86a46277dad991a6")}),
    "geo_cell_pagerank": ("BBB", {"sf0.001": (399, "9d1e789b6c6b69f0"),
                                  "sf0.01": (2171, "fc68b3b9de7c2828")}),
    "geo_cell_hops": ("BBB", {"sf0.001": (399, "dd67ae559b28dc48"),
                              "sf0.01": (2171, "6460be08e8cdecc3")}),
    "geo_cost_surface": ("BBB", {"sf0.001": (399, "dd67ae559b28dc48"),
                                 "sf0.01": (2171, "889544efce220aea")}),
    "geo_flow_accum": ("BBBB", {"sf0.001": (399, "410cc59efca0b5cf"),
                                "sf0.01": (2171, "e2fd4a88bebd3a0c")}),
    "geo_mst": ("BBB", {"sf0.001": (194, "9cdd7e0d00eba8a8"),
                        "sf0.01": (199, "f2f7f8e3bc16d882")}),
    "geo_single_linkage": ("BBB", {"sf0.001": (195, "91c17bd2a6111b73"),
                                   "sf0.01": (200, "461d11f248f2c364")}),
    "geo_contour": ("BBBB", {"sf0.001": (946, "ab0246bc33a0de32"),
                             "sf0.01": (1110, "97cab69e53116cb2")}),
    "geo_neighbors": ("BB", {"sf0.001": (1406, "8f9f4f01cb9e72b6"),
                             "sf0.01": (1840, "f39e9f2911294f8e")}),
    "geo_cell_box": ("BDDDDDDD", {"sf0.001": (195, "79df2f89064ef33d"),
                                  "sf0.01": (256, "36196ee906b5260c")}),
    "geo_knn_ring_events": ("BBDB", {"sf0.001": (390, "3946a3df7177dccc"),
                                     "sf0.01": (405, "34a6030cd8bcacac")}),
    "geo_cover_dilate": ("BL", {"sf0.001": (256, "00efa3ed0ae9e73a"),
                                "sf0.01": (256, "4f1cbd6e850685e7")}),
    "geo_cover_erode": ("BL", {"sf0.001": (195, "b0edc355dd2084f9"),
                               "sf0.01": (256, "d4e6c12dfb484a79")}),
    "geo_tile_to_cells": ("BB", {"sf0.001": (256, "7b6ce68c40a07da6"),
                                 "sf0.01": (256, "7b6ce68c40a07da6")}),
    "geo_knn_ring": ("VVDB", {"sf0.001": (115, "e39e1633ac3806c3"),
                              "sf0.01": (115, "e39e1633ac3806c3")}),
    "geo_cell_codec": ("BVVV", {"sf0.001": (790, "7137dc17b1bc8715"),
                                "sf0.01": (7969, "cf09b24ff3f3eeb5")}),
    "geo_cell_codec_b32": ("BBVV", {"sf0.001": (790, "db89290cc992a0b1"),
                                    "sf0.01": (7969, "b022cb548b1bf88b")}),
    "geo_grid_generate": ("BDDDD", {"sf0.001": (256, "434ae4a1f0d13b32"),
                                    "sf0.01": (256, "434ae4a1f0d13b32")}),
    "geo_geohash_classic": ("VBBV", {"sf0.001": (1808, "d1f9adf6d6827d1e"),
                                     "sf0.01": (1808, "d1f9adf6d6827d1e")}),
}


@functools.lru_cache(maxsize=None)
def _con(scale: str) -> duckdb.DuckDBPyConnection:
    try:
        return connect(os.path.join(os.path.dirname(SF_DIR), scale))
    except FileNotFoundError as e:
        pytest.skip(str(e))


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", sorted(PINS))
def test_lattice_oracle_pinned(name, scale):
    types, by_scale = PINS[name]
    rel = _con(scale).sql(oracle_sqls()[name])
    assert [str(t) for t in rel.types] == [_T[c] for c in types]
    rows = rel.fetchall()
    assert (len(rows), rowset_sha(rowset(rel.columns, rows))) == by_scale[scale]
