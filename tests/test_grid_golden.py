"""Bit-exact golden tests — the reference's own assert vectors.

Sources:
* encode vectors: /root/reference/src/assert/gridLib.sql:6-11
* L0 digit map + grid geometry: /root/reference/conf.yaml:21-28,
  /root/reference/data/grid256.geojson
* municipality-seat cover membership: /root/reference/data/citycover.csv

Note the reference's area asserts (gridLib.sql:15-16, 2.3458051) are stale /
inconsistent with its own encode asserts (a 45-bit Grid A cell is exactly
0.25 m x 0.25 m); we gate on the encode vectors + self-consistency instead
(SURVEY.md §5.1).
"""

import json
import os

import numpy as np
import pytest

from co_new_spark.grid import cells, codec, grids, proj
from co_new_spark.sources import reference_data
from conftest import needs_reference

REF = reference_data.REF_DIR

# gridLib.sql:6-11 — the five golden encode vectors (Grid A, 9-digit base32nvu)
ASSERT_VECTORS = [
    (3.46103000261, -76.57770034945, "GF1ZDW6NY"),
    (3.46103208489, -76.57391243547, "GF1ZSNQV7"),
    (3.45834677198, -76.57390575999, "GF1ZLKNU4"),
    (3.45834677198, -76.57770076667, "GF1Z6T4KC"),
    (4.711111, -74.072222, "HX7VGYKPW"),
]

# municipality seats -> a cell verified to appear in that municipality's
# cover/overlay list in citycover.csv (Grid B, base16h) — SURVEY.md §1.3
SEAT_VECTORS = [  # (lat, lon, refinement bits below L0, expected base16h code)
    (-4.21528, -69.94056, 12, "a0ec"),
    (-4.21528, -69.94056, 13, "a0ecQ"),
    (5.5353, -73.3678, 13, "c358G"),
    (6.2442, -75.5812, 13, "67f4G"),
    (6.1496, -75.6167, 18, "67d9fM"),
    (-0.6186, -72.3925, 3, "8Z"),
    (-3.7703, -70.3827, 13, "a230Q"),
    (5.7886, -75.4281, 13, "c222Q"),
    (-1.7461, -73.2078, 8, "8b5"),
    (-1.3283, -69.5850, 8, "aa7"),
    (6.9096, -75.0772, 13, "c833G"),
]


def test_encode_asserts_bit_exact():
    lat = np.array([v[0] for v in ASSERT_VECTORS])
    lon = np.array([v[1] for v in ASSERT_VECTORS])
    exp = [v[2] for v in ASSERT_VECTORS]
    got = grids.osmcode_encode_a(lat, lon, ndigits=9)
    assert list(got) == exp


def test_decode_roundtrip_contains_point():
    lat = np.array([v[0] for v in ASSERT_VECTORS])
    lon = np.array([v[1] for v in ASSERT_VECTORS])
    codes = [v[2] for v in ASSERT_VECTORS]
    bits, nbits = codec.b32nvu_decode(np.array(codes))
    assert (nbits == 45).all()
    x, y = proj.forward(lat, lon)
    x0, y0, x1, y1 = grids.grid_a_decode_box(bits, 45)
    assert ((x >= x0) & (x < x1) & (y >= y0) & (y < y1)).all()
    # 45-bit cell is exactly 0.25 m x 0.25 m
    assert np.allclose(x1 - x0, 0.25)
    assert np.allclose(y1 - y0, 0.25)
    # decode -> center -> re-encode is stable
    la, lo = grids.osmcode_decode_a(np.array(codes))
    again = grids.osmcode_encode_a(la, lo, ndigits=9)
    assert list(again) == codes


def test_seat_covers_grid_b():
    for lat, lon, rbits, code in SEAT_VECTORS:
        got = grids.osmcode_encode_b(np.array([lat]), np.array([lon]), rbits)[0]
        assert got == code, f"{(lat, lon, rbits)}: {got!r} != {code!r}"


@needs_reference("grid256.geojson")
def test_l0_digit_map_matches_conf():
    # conf.yaml:24-26 lookup, already embedded; cross-check vs grid256.geojson
    with open(os.path.join(REF, "data", "grid256.geojson")) as f:
        gj = json.load(f)
    by_code = {}
    for feat in gj["features"]:
        p = feat["properties"]
        ring = feat["geometry"]["coordinates"][0]
        by_code[str(p["code"])] = ring
    # the 16 covered digits must be present with correct placement
    for d in range(16):
        j = grids.L0_J_BY_DIGIT[d]
        i = grids.L0_I_BY_DIGIT[d]
        assert j >= 0 and i >= 0
        code = "0123456789abcdef"[d]
        ring = by_code[code]
        lons = [v[0] for v in ring]
        lats = [v[1] for v in ring]
        # project our cell corners and compare in WGS84
        x0 = grids.L0_ORIGIN_X + i * grids.L0_SIDE
        y0 = grids.L0_ORIGIN_Y + j * grids.L0_SIDE
        xs = np.array([x0, x0 + grids.L0_SIDE])
        ys = np.array([y0, y0 + grids.L0_SIDE])
        la, lo = proj.inverse(
            np.array([xs[0], xs[1], xs[1], xs[0]]),
            np.array([ys[0], ys[0], ys[1], ys[1]]),
        )
        assert abs(min(lo) - min(lons)) < 1e-4
        assert abs(max(lo) - max(lons)) < 1e-4
        assert abs(min(la) - min(lats)) < 1e-4
        assert abs(max(la) - max(lats)) < 1e-4


@needs_reference("grid256.geojson")
def test_grid256_corner_reproduction():
    """Every vertex of grid256.geojson reprojects to <= ~1 m of our lattice."""
    with open(os.path.join(REF, "data", "grid256.geojson")) as f:
        gj = json.load(f)
    for feat in gj["features"]:
        ring = np.array(feat["geometry"]["coordinates"][0], dtype=np.float64)
        x, y = proj.forward(ring[:, 1], ring[:, 0])
        # snap to the L0 lattice
        gx = np.round((x - grids.L0_ORIGIN_X) / grids.L0_SIDE) * grids.L0_SIDE + grids.L0_ORIGIN_X
        gy = np.round((y - grids.L0_ORIGIN_Y) / grids.L0_SIDE) * grids.L0_SIDE + grids.L0_ORIGIN_Y
        err = np.hypot(x - gx, y - gy)
        assert err.max() < 1.2, (feat["properties"], err.max())


def test_projection_roundtrip():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-5, 14, 1000)
    lon = rng.uniform(-80, -66, 1000)
    x, y = proj.forward(lat, lon)
    la, lo = proj.inverse(x, y)
    assert np.abs(la - lat).max() < 1e-10
    assert np.abs(lo - lon).max() < 1e-10


@pytest.mark.parametrize("nbits", [5, 10, 15, 25, 35, 45, 55])
def test_b32nvu_roundtrip(nbits):
    rng = np.random.default_rng(nbits)
    bits = rng.integers(0, 1 << nbits, 500, dtype=np.uint64)
    s = codec.b32nvu_encode(bits, nbits)
    b2, n2 = codec.b32nvu_decode(s)
    assert (b2 == bits).all()
    assert (n2 == nbits).all()


@pytest.mark.parametrize("nbits", list(range(1, 45)))
def test_b16h_roundtrip(nbits):
    rng = np.random.default_rng(nbits)
    bits = rng.integers(0, 1 << nbits, 200, dtype=np.uint64)
    s = codec.b16h_encode(bits, nbits)
    b2, n2 = codec.b16h_decode(s)
    assert (b2 == bits).all(), s[:5]
    assert (n2 == nbits).all()


def test_b16h_suffix_examples():
    # 8Z = 4 bits '8' + 3 bits Z=111 -> bits 0b1000111, nbits 7
    b, n = codec.b16h_decode(np.array(["8Z", "a0ecQ", "67d9fM"]))
    assert n.tolist() == [7, 17, 22]
    assert b[0] == 0b1000_111
    assert b[1] == (0xA0EC << 1) | 1
    assert b[2] == (0x67D9F << 2) | 0b01
    s = codec.b16h_encode(b, n)
    assert s.tolist() == ["8Z", "a0ecQ", "67d9fM"]


def test_cell_hierarchy_algebra():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-4, 12, 300)
    lon = rng.uniform(-79, -67, 300)
    x, y = proj.forward(lat, lon)
    bits, valid = grids.grid_b_encode_xy(x, y, 20)
    cell = cells.pack(bits, np.full(bits.shape, 24))[valid]
    par = cells.parent(cell, 2)
    assert cells.contains(par, cell).all()
    ch = cells.children(par, 2)
    assert (np.sort(ch, axis=1) == np.sort(ch, axis=1)).all()
    assert ((ch == cell[:, None]).sum(axis=1) == 1).all()
    lo, hi = cells.interval(par)
    plo, _ = cells.interval(cell)
    assert ((plo >= lo) & (plo < hi)).all()
    # parent box contains child center
    cx, cy = cells.cell_b_center(cell)
    x0, y0, x1, y1 = cells.cell_b_box(par)
    assert ((cx >= x0) & (cx < x1) & (cy >= y0) & (cy < y1)).all()


def test_neighbors_symmetric():
    rng = np.random.default_rng(3)
    lat = rng.uniform(2, 8, 100)
    lon = rng.uniform(-76, -72, 100)
    x, y = proj.forward(lat, lon)
    bits, valid = grids.grid_b_encode_xy(x, y, 16)
    cell = cells.pack(bits, np.full(bits.shape, 20))[valid]
    nb = cells.neighbors_b(cell, ring=1)
    assert nb.shape[1] == 8
    for row, c in zip(nb, cell):
        for other in row:
            if other < 0:
                continue
            back = cells.neighbors_b(np.array([other]), ring=1)[0]
            assert c in back


def test_off_grid_points_are_null():
    # ~2% outside the grid entirely must geocode to NULL, not error (FIXTURES.md §1)
    lat = np.array([40.0, -30.0, 4.7, np.nan])
    lon = np.array([-3.7, 100.0, -74.07, -74.0])
    codes = grids.osmcode_encode_a(lat, lon)
    assert codes[0] == "" and codes[1] == "" and codes[3] == ""
    assert codes[2] != ""
    codes_b = grids.osmcode_encode_b(lat, lon, 16)
    assert codes_b[0] == "" and codes_b[1] == "" and codes_b[3] == ""
    assert codes_b[2] != ""
