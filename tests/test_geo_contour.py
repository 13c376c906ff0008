"""Marching squares (queries/geo_contour.py): mirror parity, topology."""

from collections import Counter

from conftest import SF_DIR

from co_new_spark.queries.geo_contour import (
    _CASE_ROWS,
    _inside_cells,
    g_contour,
)


def _march(inside):
    """Python marching squares over a set of (gi, gj) inside cells."""
    segs = []
    by_case = {}
    for c, a, b, x, y in _CASE_ROWS:
        by_case.setdefault(c, []).append(((a, b), (x, y)))
    blocks = {}
    for gi, gj in inside:
        for dx, dy, bit in ((0, 0, 1), (1, 0, 2), (0, 1, 4), (1, 1, 8)):
            key = (gi - dx, gj - dy)
            blocks[key] = blocks.get(key, 0) + bit
    for (bi, bj), case in blocks.items():
        for (rx1, ry1), (rx2, ry2) in by_case.get(case, []):
            segs.append((2 * bi + rx1, 2 * bj + ry1,
                         2 * bi + rx2, 2 * bj + ry2))
    return sorted(segs)


def test_case_table_structure():
    cnt = Counter(c for c, *_ in _CASE_ROWS)
    assert cnt[0] == 0 and cnt[15] == 0          # uniform blocks: no segs
    assert cnt[6] == 2 and cnt[9] == 2           # diagonals: two segs
    for c in range(1, 15):
        if c not in (6, 9):
            assert cnt[c] == 1, c
    # every segment endpoint-lex canonical
    for _c, a, b, x, y in _CASE_ROWS:
        assert (a, b) < (x, y)


def test_single_cell_is_a_diamond():
    got = _march({(10, 20)})
    # raster values live at lattice POINTS: the diamond surrounds doubled
    # point (20, 40), one edge midpoint on each of the 4 incident blocks
    assert got == sorted([(19, 40, 20, 39), (19, 40, 20, 41),
                          (20, 39, 21, 40), (20, 41, 21, 40)])


def test_contours_close():
    # every endpoint shared by exactly two segments — for any cell set
    import random
    rng = random.Random(7)
    for _ in range(5):
        cells = {(rng.randrange(12), rng.randrange(12))
                 for _ in range(rng.randrange(1, 60))}
        ends = Counter()
        for x1, y1, x2, y2 in _march(cells):
            ends[(x1, y1)] += 1
            ends[(x2, y2)] += 1
        assert set(ends.values()) == {2}


def test_entry_matches_mirror_and_topology(spark):
    inside = {(r.gi, r.gj) for r in _inside_cells(spark, SF_DIR).collect()}
    assert len(inside) > 50
    want = _march(inside)
    got = sorted((r.x1, r.y1, r.x2, r.y2)
                 for r in g_contour(spark, SF_DIR).collect())
    assert got == want
    ends = Counter()
    for x1, y1, x2, y2 in got:
        ends[(x1, y1)] += 1
        ends[(x2, y2)] += 1
    assert set(ends.values()) == {2}             # closed contours
