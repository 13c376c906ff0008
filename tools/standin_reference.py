"""Write a stand-in reference directory, so the oracles that read
``data/citycover.csv``, ``data/synonym.csv`` and ``data/synonym_ref.csv`` can
be sha-compared between two checkouts on a host without the reference data.
Usage:

    python tools/standin_reference.py <out_dir> <sf_dir> [<sf_dir> ...]
    CO_REFERENCE_DIR=<out_dir> python tools/check_oracle.py <sf_dir> <names>

The files have the reference's columns (FIXTURES.md §4-5) and exercise every
branch its readers have.  Each cover cell is an ancestor, at depth 5-22, of
the depth-30 cell of an ``events`` point of the given scales or of a
``tests/fixtures/pages2k_xy.parquet`` point, so all four base16h suffix
families occur (plain hex, G/Q, H/M/R/V, J..Z).  Beside them:

* one literal ``NULL`` token, in the one status=1 row (citycover.csv:325);
* border cells listed under two labels, and cells nested under a cell of
  another label;
* depth-17 overlay cells (every real overlay is depth 17);
* one cover cell each at depths 5, 6 and 7, so most points lie under no
  shallow cell and some stay uncovered;
* one label without a default abbreviation, non-default synonym rows, and
  an ``abbrevref_id`` in use with no synonym_ref.csv row.

The output depends on the inputs only (fixed seed).  No test reads it: a test
whose subject is the reference data must read the real files.
"""

from __future__ import annotations

import csv
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from co_new_spark.grid import cells  # noqa: E402
from co_new_spark.queries.geospatial import _EVENT_XY  # noqa: E402

SEED = 13
N_LABELS = 60
N_COVER = 790        # cover cells before the border and nested extras
N_BORDER = 10        # cells listed under a second label
N_NESTED = 15        # cells nested under a cell of another label
N_OVERLAY_LABELS = 15
OVERLAY_DEPTH = 17
PT_DEPTH = 30
XY_FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "tests", "fixtures", "pages2k_xy.parquet")


def point_cells(sf_dirs: list[str]) -> np.ndarray:
    """Depth-30 cells of the events points the oracles use
    (geospatial._EVENT_XY) of each scale and of the pages2k_xy fixture
    points, in that order."""
    xs, ys = [], []
    con = duckdb.connect()
    for sf in sf_dirs:
        con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, 'events.parquet')}')")
        ev = con.execute(f"SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
                         f"FROM ({_EVENT_XY})").fetchnumpy()
        xs.append(ev["x"])
        ys.append(ev["y"])
    xy = pd.read_parquet(XY_FIXTURE, columns=["x", "y"])
    xs.append(xy["x"].to_numpy())
    ys.append(xy["y"].to_numpy())
    c = cells.cell_b_from_xy(np.concatenate(xs), np.concatenate(ys), PT_DEPTH - 4)
    return c[c >= 0]


def ancestor(cell, depth):
    return cells.parent(cell, PT_DEPTH - np.asarray(depth))


def build(sf_dirs: list[str]):
    """(citycover, synonym, synonym_ref) rows."""
    rng = np.random.default_rng(SEED)
    pts = np.unique(point_cells(sf_dirs))
    labels = [f"CO-S{k // 10:02d}-Standin{k:02d}" for k in range(N_LABELS)]

    # one cover cell at each of depths 5-7, the rest at depths 8-22
    shallow = ancestor(rng.choice(pts, 3, replace=False), np.array([5, 6, 7]))
    n = min(4 * N_COVER, len(pts))    # one small scale has fewer points
    deep = np.unique(ancestor(rng.choice(pts, n, replace=False), rng.integers(8, 23, n)))
    deep = rng.permutation(np.setdiff1d(deep, shallow))[:N_COVER - 3]
    cover = np.concatenate([shallow, deep])
    owner = np.arange(len(cover)) % N_LABELS
    rng.shuffle(owner)
    by_label: dict[int, list[int]] = {k: [] for k in range(N_LABELS)}
    for c, k in zip(cover.tolist(), owner.tolist()):
        by_label[k].append(c)

    # border cells: the same cell under a second label
    for i in rng.choice(len(cover), N_BORDER, replace=False):
        by_label[(owner[i] + 1 + rng.integers(N_LABELS - 1)) % N_LABELS].append(int(cover[i]))
    # nested cells: a deeper ancestor of a covered point, under another label
    deep_idx = np.flatnonzero((cover & 63) <= 18)
    nested = 0
    for i in rng.permutation(deep_idx):
        under = pts[cells.contains(np.full(len(pts), cover[i]), pts)]
        if len(under) == 0:
            continue
        d = int(cover[i] & 63) + int(rng.integers(1, 5))
        by_label[(owner[i] + 1) % N_LABELS].append(int(ancestor(under[:1], d)[0]))
        nested += 1
        if nested == N_NESTED:
            break

    overlay: dict[int, list[int]] = {}
    ov = np.unique(ancestor(rng.choice(pts, 2 * N_OVERLAY_LABELS, replace=False),
                            OVERLAY_DEPTH))
    for j, c in enumerate(ov.tolist()):
        overlay.setdefault(j % N_OVERLAY_LABELS, []).append(c)

    null_label = int(rng.integers(N_LABELS))
    city = []
    for k, lab in enumerate(labels):
        codes = list(cells.cell_b_to_code(np.array(sorted(set(by_label[k])), np.int64)))
        assert len(codes) <= 32, "one base32nvu digit must index the cover list"
        if k == null_label:
            codes.insert(len(codes) // 2, "NULL")
        ovc = cells.cell_b_to_code(np.array(overlay.get(k, []), np.int64))
        city.append({"isolabel_ext": lab, "status": "1" if k == null_label else "0",
                     "base_intlevel": "", "cover": " ".join(codes),
                     "overlay": " ".join(ovc), "cover_order": "", "overlay_order": ""})

    # default abbrevs for all labels but one, abbrevref_id 1..4 (4 has no ref row)
    syn = []
    for k, lab in enumerate(labels[:-1]):
        syn.append({"selected": "t", "abbrevref_id": str(1 + k % 4), "isolabel_ext": lab,
                    "abbrev": f"CO-{k:05d}", "insert_date": "2024-01-01",
                    "default_abbrev": "t"})
    for k in rng.choice(N_LABELS, 12, replace=False).tolist():
        syn.append({"selected": "f", "abbrevref_id": "2", "isolabel_ext": labels[k],
                    "abbrev": f"ALT{k:02d}", "insert_date": "2024-02-01",
                    "default_abbrev": "f"})
    ref = [{"abbrevref_id": str(i), "name": name,
            "info": json.dumps({"source": name, "kind": "standin"})}
           for i, name in ((1, "dane"), (2, "iso"), (3, "local"))]
    return city, syn, ref


def write(out_dir: str, sf_dirs: list[str]) -> None:
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    for name, rows in zip(("citycover", "synonym", "synonym_ref"), build(sf_dirs)):
        with open(os.path.join(data, f"{name}.csv"), "w", newline="") as fh:
            w = csv.DictWriter(fh, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    write(sys.argv[1], sys.argv[2:])
