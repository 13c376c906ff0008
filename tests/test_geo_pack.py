"""STR packing: distributed exact ranking vs sequential python mirror."""

import duckdb
import pytest

from co_new_spark.queries.geo_pack import _S
from co_new_spark.queries.geospatial import _XENG, _YENG

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts():
    return duckdb.sql(
        f"SELECT event_id, CAST({_XENG} AS BIGINT), CAST({_YENG} AS BIGINT)"
        f" FROM read_parquet('{SF}/events.parquet')").fetchall()


def _mirror(pts):
    """{leaf: [(x, y), ...]} — sequential STR in plain python."""
    n = len(pts)
    xs = sorted(pts, key=lambda r: (r[1], r[2], r[0]))
    leaves = {}
    slices = {}
    for i, r in enumerate(xs):
        slices.setdefault(i * _S // n, []).append(r)
    for s, rows in slices.items():
        rows.sort(key=lambda r: (r[2], r[1], r[0]))
        ns = len(rows)
        for j, r in enumerate(rows):
            leaves.setdefault(s * _S + j * _S // ns, []).append((r[1], r[2]))
    return leaves


def test_engine_matches_sequential_str(spark, pts):
    from co_new_spark.queries.geo_pack import g_str_pack

    want = _mirror(pts)
    got = {r.leaf: r for r in g_str_pack(spark, SF).collect()}
    assert set(got) == set(want)
    for leaf, members in want.items():
        g = got[leaf]
        xs, ys = [x for x, _ in members], [y for _, y in members]
        assert (g.n_rects, g.x_min, g.x_max, g.y_min, g.y_max) == \
               (len(members), min(xs), max(xs), min(ys), max(ys)), leaf


def test_leaves_are_balanced_and_tile_within_slices(pts):
    leaves = _mirror(pts)
    n = len(pts)
    sizes = sorted(len(v) for v in leaves.values())
    # rank-arithmetic cuts keep every leaf within one of the ideal size
    ideal = n / (_S * _S)
    assert sizes[0] >= int(ideal) - 1 and sizes[-1] <= int(ideal) + 2
    # within a slice, leaf y-ranges are disjoint except at shared boundary
    for s in range(_S):
        spans = sorted((min(y for _, y in leaves[s * _S + j]),
                        max(y for _, y in leaves[s * _S + j]))
                       for j in range(_S) if s * _S + j in leaves)
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert lo >= hi


def test_rtree_probe_matches_full_scan_and_prunes(spark):
    from co_new_spark.queries.geo_pack import (
        _RTP_NQ, _leaf_points, _query_boxes, g_rtree_probe)
    from conftest import SF_DIR
    import pyspark.sql.functions as F

    # python full-scan reference over the raw lattice positions
    pts = [(r.event_id, r.x, r.y)
           for r in _leaf_points(spark, SF_DIR).select(
               "event_id", "x", "y").collect()]
    boxes = {r.qid: (r.qx1, r.qx2, r.qy1, r.qy2)
             for r in _query_boxes(spark, SF_DIR).collect()}
    want = {}
    for qid, (x1, x2, y1, y2) in boxes.items():
        ids = [e for e, x, y in pts if x1 <= x <= x2 and y1 <= y <= y2]
        want[qid] = (len(ids), sum(ids), min(ids, default=-1),
                     max(ids, default=-1))
    got = {r.qid: (r.n_hits, r.id_sum, r.id_min, r.id_max)
           for r in g_rtree_probe(spark, SF_DIR).collect()}
    assert got == want
    # planted displaced queries hit nothing; in-domain boxes always contain
    # their own center event
    assert all(got[q][0] == 0 for q in got if q % 5 == 0)
    assert all(got[q][0] >= 1 for q in got if q % 5 != 0)

    # pruning gate: the directory join must shortlist far fewer than the
    # 256 leaves per query — otherwise the "index" is a scan
    lp = _leaf_points(spark, SF_DIR)
    dirm = (lp.groupBy("leaf")
            .agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                 F.min("y").alias("y_min"), F.max("y").alias("y_max")))
    q = _query_boxes(spark, SF_DIR)
    cand = dirm.join(
        F.broadcast(q),
        (F.col("qx1") <= F.col("x_max")) & (F.col("qx2") >= F.col("x_min"))
        & (F.col("qy1") <= F.col("y_max")) & (F.col("qy2") >= F.col("y_min")))
    n_cand = cand.count()
    assert n_cand / _RTP_NQ < 32          # avg candidate leaves per query
    assert n_cand > 0
