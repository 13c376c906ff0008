"""Nested-fold DTW vs an independent python DP + metric properties."""

import pytest

from tests.test_geo_match import _corpus


def _dtw(a, b):
    big = 1 << 40
    n, m = len(a), len(b)
    prev = [big] * m
    for i in range(n):
        cur = []
        for j in range(m):
            c = (a[i][0] - b[j][0]) ** 2 + (a[i][1] - b[j][1]) ** 2
            if i == 0 and j == 0:
                best = 0
            else:
                up = prev[j]
                diag = prev[j - 1] if j > 0 else big
                left = cur[j - 1] if j > 0 else big
                best = min(up, diag, left)
            cur.append(c + best)
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def walks():
    return {t: cells for t, (cells, _) in _corpus().items()}


def test_engine_matches_python_dtw(spark, walks):
    from co_new_spark.queries.geo_dtw import _SH, _TP, g_dtw_pairs

    want = {t: _dtw(walks[t][:_TP], walks[t][_SH:_SH + _TP])
            for t in walks}
    got = {r.pair: r.dtw for r in
           g_dtw_pairs(spark, "/root/testdata/sf0.001").collect()}
    assert got == want


def test_dtw_metric_properties(walks):
    ws = list(walks.values())
    for w in ws[:10]:
        assert _dtw(w, w) == 0  # identity of indiscernibles (this side)
    for a, b in zip(ws[:6], ws[6:12]):
        assert _dtw(a, b) == _dtw(b, a)  # symmetry
        # the diagonal alignment is one admissible warp: DTW can't exceed it
        diag = sum((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2
                   for p, q in zip(a, b))
        assert 0 <= _dtw(a, b) <= diag


def test_warping_actually_beats_the_diagonal_mostly(walks):
    # pairing a walk with its own lagged replay is the regime DTW exists
    # for: the optimal warp must beat lockstep alignment on MOST pairs,
    # else the DP reduces to a pointwise distance and is untested
    from co_new_spark.queries.geo_dtw import _SH, _TP

    better = total = 0
    for t, w in walks.items():
        a, b = w[:_TP], w[_SH:_SH + _TP]
        diag = sum((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2
                   for p, q in zip(a, b))
        better += _dtw(a, b) < diag
        total += 1
    assert better / total > 0.5, (better, total)


def _frechet(a, b):
    big = 1 << 40
    n, m = len(a), len(b)
    prev = [big] * m
    for i in range(n):
        cur = []
        for j in range(m):
            c = (a[i][0] - b[j][0]) ** 2 + (a[i][1] - b[j][1]) ** 2
            if i == 0 and j == 0:
                best = 0
            else:
                up = prev[j]
                diag = prev[j - 1] if j > 0 else big
                left = cur[j - 1] if j > 0 else big
                best = min(up, diag, left)
            cur.append(max(c, best))
        prev = cur
    return prev[-1]


def test_engine_matches_python_frechet(spark, walks):
    from co_new_spark.queries.geo_dtw import _SH, _TP, g_frechet_pairs

    want = {}
    for t, cells in walks.items():
        a = cells[:_TP]
        b = cells[_SH:_SH + _TP]
        want[t] = _frechet(a, b)
    got = {r.pair: r.frechet
           for r in g_frechet_pairs(spark, "/root/testdata/sf0.001").collect()}
    assert got == want


def test_frechet_properties(spark, walks):
    from co_new_spark.queries.geo_dtw import _SH, _TP, g_dtw_pairs, g_frechet_pairs

    fr = {r.pair: r.frechet
          for r in g_frechet_pairs(spark, "/root/testdata/sf0.001").collect()}
    dt = {r.pair: r.dtw
          for r in g_dtw_pairs(spark, "/root/testdata/sf0.001").collect()}
    # bottleneck <= sum along the optimal warp (non-negative costs)
    assert all(fr[p] <= dt[p] for p in fr)
    # symmetry + identity of the python mirror (the engine's corpus pairs
    # are fixed-orientation, so these laws are checked on the mirror)
    for t, cells in list(walks.items())[:10]:
        a, b = cells[:_TP], cells[_SH:_SH + _TP]
        assert _frechet(a, b) == _frechet(b, a)
        assert _frechet(a, a) == 0
    # bottleneck beats the lockstep max on a strict majority of pairs —
    # the same re-slip regime the DTW gate pins
    wins = 0
    for t, cells in walks.items():
        a, b = cells[:_TP], cells[_SH:_SH + _TP]
        lock = max((x1 - x2) ** 2 + (y1 - y2) ** 2
                   for (x1, y1), (x2, y2) in zip(a, b))
        if fr[t] < lock:
            wins += 1
    assert wins > len(walks) * 0.5
