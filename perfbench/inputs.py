"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the requested sizes, so the
same seed gives the same pages, cells and covers on every run.  Inputs are
built with numpy and written with pyarrow, outside Spark, so their cost is not
part of any timed or set-up figure.

* ``make_pages``: the FIXTURES.md section 1 ``pages`` schema and mix (70%
  ``geo:`` URI, 20% plain decimal pair, 10% no coordinates; Bogota hotspot,
  L0 cell ``c`` share, offshore cell ``2``, 2% off-grid).
* ``expected_cells``: the Grid B cell each page should geocode to, from the
  coordinate strings actually written into the text.
* ``real_cover``: a synthetic cover with the sizes of the reference's
  citycover table (1,116 labels, 14,165 rows, six depths, no depth above 6k
  rows, about 5% border cells listed under two labels).
* ``deep_cover``: a compacted-style cover (quad-merged disc rasterisations at
  both depth parities) with at least 14 distinct depths.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from co_new_spark.grid import cells, grids, proj

RBITS = 26                      # flagship encode refinement: leaf depth 30
LEAF_DEPTH = 4 + RBITS

DEEP_MIN_DEPTH = 11            # deep cover: depths 11..25

N_LABELS = 1116
N_COVER_ROWS = 14165
# distinct cover cells per depth; with the 675 border duplicates the table has
# 14,165 rows and no depth reaches 6k rows
REAL_DEPTHS = {12: 900, 13: 1300, 16: 5000, 17: 3500, 20: 1890, 21: 900}
N_BORDER_DUPS = N_COVER_ROWS - sum(REAL_DEPTHS.values())

_BOGOTA = (4.711111, -74.072222)
_IBERIA = (38.0, 50.0, -10.0, -2.0)


def _l0_uniform(rng: np.random.Generator, digits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Uniform (lat, lon) inside each given L0 cell, sampled in the plane."""
    i = grids.L0_I_BY_DIGIT[digits]
    j = grids.L0_J_BY_DIGIT[digits]
    x = grids.L0_ORIGIN_X + (i + rng.random(digits.size)) * grids.L0_SIDE
    y = grids.L0_ORIGIN_Y + (j + rng.random(digits.size)) * grids.L0_SIDE
    return proj.inverse(x, y)


def make_pages(seed: int, n: int) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """``n`` pages (url, warc_ts, html, text, lang; FIXTURES.md section 1),
    with the latitude and longitude strings written into each page's text
    (None where the page has no coordinates)."""
    rng = np.random.default_rng([seed, 1])
    # ~6% of rows sit in url-duplicate groups of three (identical content)
    ids = np.arange(n, dtype=np.int64)
    uid = np.where(ids % 50 < 3, ids - ids % 50, ids)
    u = rng.random((3, n))[:, uid]

    lat = np.empty(n)
    lon = np.empty(n)
    sel = rng.random(n)[uid]
    bog = sel < 0.10
    lat[bog] = _BOGOTA[0] + rng.uniform(-0.25, 0.25, bog.sum())
    lon[bog] = _BOGOTA[1] + rng.uniform(-0.25, 0.25, bog.sum())
    digit = np.select([sel < 0.35, sel < 0.40], [0xC, 0x2],
                      rng.integers(0, 16, n))
    l0 = (sel >= 0.10) & (sel < 0.98)
    lat[l0], lon[l0] = _l0_uniform(rng, digit[l0])
    off = sel >= 0.98
    lat[off] = rng.uniform(_IBERIA[0], _IBERIA[1], off.sum())
    lon[off] = rng.uniform(_IBERIA[2], _IBERIA[3], off.sum())
    # a url's duplicates carry its content byte for byte
    lat, lon = lat[uid], lon[uid]

    decimals = rng.integers(5, 10, n)[uid]  # 5-9 decimal places
    lat_s = [f"{a:.{d}f}" for a, d in zip(lat.tolist(), decimals.tolist())]
    lon_s = [f"{o:.{d}f}" for o, d in zip(lon.tolist(), decimals.tolist())]
    host = rng.integers(0, 200, n)[uid]
    style = np.select([u[0] < 0.70, u[0] < 0.90], [0, 1], 2)
    lang = np.select([u[1] < 0.80, u[1] < 0.95], ["es", "en"], "pt")

    urls, texts, htmls = [], [], []
    for k in range(n):
        h = f"site{host[k]}.example.co"
        if style[k] == 0:
            anchor = f"Ubicación registrada en geo:{lat_s[k]},{lon_s[k]} dentro del territorio."
        elif style[k] == 1:
            anchor = f"Las coordenadas {lat_s[k]}, {lon_s[k]} fueron verificadas en campo."
        else:
            anchor = "Sin coordenadas disponibles para este registro."
        title = f"Informe {uid[k]}"
        body = f"Resumen del sitio {h} con código & datos n.º {uid[k] % 9973}."
        urls.append(f"https://{h}/page{uid[k]}")
        texts.append(f"{title} {anchor} {body}")
        htmls.append(f"<html><head><title>{title}</title></head><body>\n<p>{anchor}</p>\n"
                     f"<p>{body.replace('&', '&amp;')}</p>\n</body></html>".encode())
    ts = (np.datetime64("2025-01-01T00:00:00", "s")
          + ((ids * 7919 + ids) % 31_536_000).astype("timedelta64[s]"))
    out = pd.DataFrame({"url": urls, "warc_ts": ts, "html": htmls,
                        "text": texts, "lang": lang})
    return (out, np.where(style < 2, np.array(lat_s, dtype=object), None),
            np.where(style < 2, np.array(lon_s, dtype=object), None))


def expected_cells(lat_s: np.ndarray, lon_s: np.ndarray) -> np.ndarray:
    """Cell each page must geocode to (-1: no coordinates or off-grid).

    Starts from the coordinate strings written into the text, so rounding to
    the printed decimals is part of the expectation."""
    has = pd.notna(lat_s)
    lat = np.where(has, pd.to_numeric(lat_s), 0.0)
    lon = np.where(has, pd.to_numeric(lon_s), 0.0)
    x, y = proj.forward(lat, lon)
    ok = has & np.isfinite(x) & np.isfinite(y)
    bits, valid = grids.grid_b_encode_xy(np.where(ok, x, 0.0), np.where(ok, y, 0.0), RBITS)
    cell = cells.pack(bits, np.full(bits.shape, LEAF_DEPTH, dtype=np.int64))
    return np.where(ok & valid, cell, -1)


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> str:
    """Write ``df`` as ``n_files`` equal parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // n_files)
    for f in range(n_files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))
    return path


def _cover_frame(cell: np.ndarray, label: np.ndarray) -> pd.DataFrame:
    """Cover rows in the ``load_citycover`` shape."""
    lo, hi = cells.interval(cell)
    return pd.DataFrame({
        "isolabel_ext": label.astype(object), "kind": "cover",
        "code": cells.cell_b_to_code(cell), "cell": cell,
        "depth": cells.depth(cell), "lo": lo, "hi": hi})


def _descendants(cell: np.ndarray, depth_from: int, depth_to: int) -> np.ndarray:
    """All descendants at ``depth_to`` of cells at ``depth_from``, flattened."""
    k = depth_to - depth_from
    bits, _ = cells.unpack(cell)
    sub = np.arange(1 << k, dtype=np.uint64)
    ch = (bits[:, None] << np.uint64(k)) | sub[None, :]
    return cells.pack(ch.ravel(), np.full(ch.size, depth_to, dtype=np.int64))


def _roots_near_points(rng: np.random.Generator, point_cells: np.ndarray,
                       depth: int, n: int) -> np.ndarray:
    """``n`` distinct cells at ``depth``, densest areas of the points first."""
    valid = point_cells[point_cells >= 0]
    anc = cells.parent(rng.permutation(valid), cells.depth(valid) - depth) \
        if valid.size else np.empty(0, dtype=np.int64)
    _, first = np.unique(anc, return_index=True)
    ordered = anc[np.sort(first)]
    if ordered.size < n:  # tiny inputs: top up with random cells of the grid
        pool = _descendants(cells.pack(np.arange(16, dtype=np.uint64),
                                       np.full(16, 4, dtype=np.int64)), 4, depth)
        pool = rng.permutation(np.setdiff1d(pool, ordered))
        ordered = np.concatenate([ordered, pool[:n - ordered.size]])
    return ordered[:n]


def real_cover(seed: int, point_cells: np.ndarray) -> pd.DataFrame:
    """Real-shaped synthetic cover (see module docstring).

    A random mixed-depth refinement of root cells placed where the points
    are: at each depth in ``REAL_DEPTHS`` some cells become cover cells, some
    split to the next depth and the rest stay uncovered.  Leaves in Morton
    order are cut into 1,116 runs (one label each), and ``N_BORDER_DUPS``
    leaves are listed a second time under the neighbouring run's label.
    """
    rng = np.random.default_rng([seed, 2])
    depths = sorted(REAL_DEPTHS)
    n_split = {depths[-1]: 0}   # cells split to the next depth
    need = {depths[-1]: REAL_DEPTHS[depths[-1]]}  # cells needed at each depth
    for d, nxt in zip(depths[-2::-1], depths[:0:-1]):
        n_split[d] = -(-need[nxt] // (1 << (nxt - d)))
        need[d] = REAL_DEPTHS[d] + n_split[d]
    avail = _roots_near_points(rng, point_cells, depths[0], need[depths[0]])
    leaves = []
    for d, nxt in zip(depths, depths[1:] + [None]):
        avail = rng.permutation(avail)
        leaves.append(avail[:REAL_DEPTHS[d]])
        if nxt is not None:
            split = avail[REAL_DEPTHS[d]:REAL_DEPTHS[d] + n_split[d]]
            avail = _descendants(split, d, nxt)
    leaf = np.concatenate(leaves)
    leaf = leaf[np.argsort(cells.interval(leaf)[0], kind="stable")]

    cuts = np.sort(rng.choice(np.arange(1, leaf.size), N_LABELS - 1, replace=False))
    run = np.zeros(leaf.size, dtype=np.int64)
    run[cuts] = 1
    run = np.cumsum(run)
    names = np.array([f"CO-X{p:04d}" for p in rng.permutation(N_LABELS)], dtype=object)
    label = names[run]
    dup = rng.choice(leaf.size, N_BORDER_DUPS, replace=False)
    nb_run = np.where(run[dup] + 1 < N_LABELS, run[dup] + 1, run[dup] - 1)
    cell = np.concatenate([leaf, leaf[dup]])
    label = np.concatenate([label, names[nb_run]])
    return _cover_frame(cell, label)


def _disc_cover(cx: float, cy: float, r: float, root: np.ndarray,
                leaf_depth: int) -> np.ndarray:
    """Quad-compacted rasterisation of a disc: cells fully inside at the
    shallowest depth they fit, boundary cells at ``leaf_depth`` when their
    centre is inside (the form ``operators.compact`` produces)."""
    out = []
    frontier = root
    depth = int(cells.depth(root[0]))
    while frontier.size:
        x0, y0, x1, y1 = cells.cell_b_box(frontier)
        far = np.hypot(np.maximum(np.abs(x0 - cx), np.abs(x1 - cx)),
                       np.maximum(np.abs(y0 - cy), np.abs(y1 - cy)))
        near = np.hypot(np.maximum(np.maximum(x0 - cx, cx - x1), 0),
                        np.maximum(np.maximum(y0 - cy, cy - y1), 0))
        inside = far <= r
        partial = ~inside & (near < r)
        out.append(frontier[inside])
        if depth >= leaf_depth:
            centre = np.hypot((x0 + x1) / 2 - cx, (y0 + y1) / 2 - cy) <= r
            out.append(frontier[partial & centre])
            break
        frontier = cells.children(frontier[partial], 2).ravel()
        depth += 2
    return np.concatenate(out)


def deep_cover(seed: int, point_cells: np.ndarray, n_labels: int = 40) -> pd.DataFrame:
    """Compacted-style cover with >= 14 distinct depths.

    Discs with radii spaced geometrically over 1-80 km, centred on sampled
    page points; even-indexed labels rasterise from the L0 cell at leaf depth
    24, odd ones from the L0 half cell at leaf depth 25, so both depth
    parities appear.  Discs of different labels may overlap at any depth."""
    rng = np.random.default_rng([seed, 3])
    valid = point_cells[point_cells >= 0]
    centres = rng.choice(valid, n_labels)
    cx, cy = cells.cell_b_center(centres)
    # fixed radii, so every seed draws the same mix of disc sizes
    radius = np.geomspace(1_000.0, 80_000.0, n_labels)
    names = [f"CO-Z{p:04d}" for p in rng.permutation(n_labels)]
    cell_parts, label_parts = [], []
    for k in range(n_labels):
        root_depth, leaf_depth = (4, 24) if k % 2 == 0 else (5, 25)
        root = cells.parent(centres[k:k + 1], LEAF_DEPTH - root_depth)
        got = _disc_cover(cx[k], cy[k], radius[k], root, leaf_depth)
        cell_parts.append(got)
        label_parts.append(np.full(got.size, names[k], dtype=object))
    cell, label = np.concatenate(cell_parts), np.concatenate(label_parts)
    # cells above the shallowest depth of each parity are split down to it,
    # so every seed yields the same set of depths
    depth = cells.depth(cell)
    keep = depth >= DEEP_MIN_DEPTH
    cell_parts, label_parts = [cell[keep]], [label[keep]]
    for d in np.unique(depth[~keep]).tolist():
        to = DEEP_MIN_DEPTH + (d - DEEP_MIN_DEPTH) % 2
        cell_parts.append(_descendants(cell[depth == d], d, to))
        label_parts.append(np.repeat(label[depth == d], 1 << (to - d)))
    cell, label = np.concatenate(cell_parts), np.concatenate(label_parts)
    return _cover_frame(cell, label)
