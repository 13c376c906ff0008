"""Expected outputs, computed in numpy and sharing no code with
``co_new_spark.operators.cover``.

Cover lookup: every cover cell is a half-open interval on the depth-57 Morton
line (``cells.interval``).  Sweeping all interval bounds into sorted disjoint
segments, labelling each segment with the minimum label of the cover cells
that contain it, turns the lookup into one ``np.searchsorted`` per point.

Pyramid: per-level counts are ``np.unique`` over ``cells.parent`` ancestors;
the decode is checked through an order-independent digest of every output row
(exact: counts and cell ids are integers, and every box corner of a cell at
depth <= 30 is a whole number of metres, so float sums are exact too).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from co_new_spark.grid import cells

# depths the pyramid rolls the leaf counts up to (leaf depth 30 is level 0)
PYRAMID_LEVELS = (26, 22, 18, 14, 10)


class CoverIndex:
    """Disjoint Morton segments of a cover, each with its min label."""

    def __init__(self, cover: pd.DataFrame):
        labels = np.asarray(cover["isolabel_ext"], dtype=object)
        self.names = np.array(sorted(set(labels)), dtype=object)
        rank = np.searchsorted(self.names, labels)
        lo, hi = cells.interval(np.asarray(cover["cell"], dtype=np.int64))
        self.bounds = np.unique(np.concatenate([lo, hi]))
        none = len(self.names)
        self.seg = np.full(len(self.bounds) - 1, none, dtype=np.int64)
        a = np.searchsorted(self.bounds, lo)
        b = np.searchsorted(self.bounds, hi)
        # paint highest rank first so the smallest label wins each segment
        for k in np.argsort(-rank, kind="stable"):
            self.seg[a[k]:b[k]] = rank[k]

    def lookup(self, point_cells: np.ndarray) -> np.ndarray:
        """Rank of the min label covering each point cell; -1 if none."""
        point_cells = np.asarray(point_cells, dtype=np.int64)
        key = cells.interval(np.maximum(point_cells, 0))[0]
        idx = np.searchsorted(self.bounds, key, side="right") - 1
        inside = (point_cells >= 0) & (idx >= 0) & (idx < len(self.seg))
        got = np.where(inside, self.seg[np.clip(idx, 0, len(self.seg) - 1)], len(self.names))
        return np.where(got < len(self.names), got, -1)

    def counts(self, point_cells: np.ndarray) -> dict[str, int]:
        """Expected ``isolabel_ext -> matched rows`` for the given points."""
        r = self.lookup(point_cells)
        r = r[r >= 0]
        uniq, n = np.unique(r, return_counts=True)
        return {str(self.names[u]): int(c) for u, c in zip(uniq, n)}


def pyramid_digest(point_cells: np.ndarray) -> dict[int, tuple]:
    """Expected per-level digest of the pyramid output.

    Level 0 holds the per-leaf counts; level k the counts rolled up to
    ``PYRAMID_LEVELS[k-1]``.  The digest of a level sums, over its rows,
    the count, the cell id, the CRC-32 of the base16h code and the four box
    corners, next to the row count."""
    leaf = np.asarray(point_cells, dtype=np.int64)
    leaf = leaf[leaf >= 0]
    out = {}
    for level, depth in enumerate((None, *PYRAMID_LEVELS)):
        c = leaf if depth is None else cells.parent(leaf, cells.depth(leaf) - depth)
        uniq, n = np.unique(c, return_counts=True)
        codes = cells.cell_b_to_code(uniq)
        crc = sum(zlib.crc32(s.encode()) for s in codes.tolist())
        x0, y0, x1, y1 = cells.cell_b_box(uniq)
        out[level] = (len(uniq), int(n.sum()), int(uniq.sum()), crc,
                      float(x0.sum()), float(y0.sum()), float(x1.sum()), float(y1.sum()))
    return out
