"""The cover-lookup kernel (operators.cover) against a brute-force prefix scan
built on grid.cells.contains: random mixed-depth covers with border cells
under two labels, overlay rows and empty covers, each built from a list and
from pandas (a local cover, whose index is kept); points shallower and
deeper than the cover cells, plus the invalid cell -1.  Also: the index is
built once per local cover and on every call otherwise, and the fused
flagship kernel returns the rows of geocode then lookup."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from co_new_spark.grid import cells as C
from co_new_spark.operators.cover import (
    cover_anti,
    cover_best_with_cell,
    cover_lookup_best,
    flagship,
    flagship_cells,
)
from co_new_spark.sources.pages import pages

ROOT = 0xC        # every generated cell lies under this L0 cell
PATH_BITS = 24    # cells at depths 4..28 are prefixes of 24-bit paths
LABELS = ["CO-A", "CO-B", "CO-C", "CO-D"]
COVER_SCHEMA = "isolabel_ext string, kind string, cell long, depth long"


def _cell(path: int, depth: int) -> int:
    bits = (ROOT << (depth - 4)) | (path >> (PATH_BITS + 4 - depth))
    return int(C.pack(np.array([bits], dtype=np.uint64), np.array([depth]))[0])


@st.composite
def _case(draw):
    paths = draw(st.lists(st.integers(0, (1 << PATH_BITS) - 1), min_size=1, max_size=4))
    path = st.sampled_from(paths)
    cover = [(draw(st.sampled_from(LABELS)), draw(st.sampled_from(["cover", "cover", "overlay"])),
              _cell(draw(path), draw(st.integers(5, 24))))
             for _ in range(draw(st.integers(0, 10)))]
    if cover and draw(st.booleans()):  # a border cell listed under a second label
        cover.append((draw(st.sampled_from(LABELS)), "cover", cover[0][2]))
    fresh = st.integers(0, (1 << PATH_BITS) - 1)
    points = [_cell(draw(st.one_of(path, fresh)), draw(st.integers(4, 28)))
              for _ in range(draw(st.integers(1, 25)))]
    return cover, points + [-1]


def _brute(cover, p):
    """(min label, (deepest label, deepest cell)) over the cover cells
    containing point cell ``p``; None where none does."""
    hits = [(iso, c) for iso, kind, c in cover
            if kind == "cover" and p >= 0 and C.contains(np.array([c]), np.array([p]))[0]]
    if not hits:
        return None, None
    deepest = max(C.depth(c) for _, c in hits)
    return min(iso for iso, _ in hits), min((iso, c) for iso, c in hits if C.depth(c) == deepest)


def _cover(spark, rows, build):
    """The cover DataFrame built from a list or from pandas; a non-empty
    pandas-built one is local."""
    if build == "pandas":
        rows = pd.DataFrame(rows, columns=["isolabel_ext", "kind", "cell", "depth"])
    return spark.createDataFrame(rows, COVER_SCHEMA)


def _frames(spark, cover, points, build="list"):
    cov = _cover(spark, [(iso, kind, c, c & 63) for iso, kind, c in cover], build)
    pts = spark.createDataFrame(list(enumerate(points)), "pid long, cell long")
    return cov, pts


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_case(), build=st.sampled_from(["list", "pandas"]))
def test_kernel_matches_brute_force(spark, case, build):
    cover, points = case
    cov, pts = _frames(spark, cover, points, build)
    want = {pid: _brute(cover, p) for pid, p in enumerate(points)}

    got = {r.pid: r.isolabel_ext for r in
           cover_lookup_best(pts, cov, keep=["pid", "cell"], dedup=False).collect()}
    assert got == {pid: w[0] for pid, w in want.items() if w[0] is not None}

    got = {(r.cell, r.isolabel_ext) for r in
           cover_lookup_best(pts, cov, keep=["cell"], dedup=True).collect()}
    assert got == {(points[pid], w[0]) for pid, w in want.items() if w[0] is not None}

    got = {r.pid for r in cover_anti(pts, cov, keep=["pid"]).collect()}
    assert got == {pid for pid, w in want.items() if w[0] is None}

    got = {r.pid: (r.isolabel_ext, r.cover_cell) for r in
           cover_best_with_cell(pts, cov).collect()}
    assert got == {pid: w[1] for pid, w in want.items() if w[1] is not None}


def test_kernel_empty_cover(spark):
    cov, pts = _frames(spark, [], [_cell(5, 20), -1])
    hit = cover_lookup_best(pts, cov, keep=["pid"], dedup=False)
    assert hit.count() == 0 and hit.columns == ["pid", "isolabel_ext"]
    assert cover_anti(pts, cov).count() == 2
    best = cover_best_with_cell(pts, cov)
    assert best.count() == 0 and best.columns == ["pid", "cell", "isolabel_ext", "cover_cell"]


@pytest.mark.parametrize("row, column", [
    (("CO-A", "cover", -1, 0), "cell"),
    (("CO-A", "cover", (1 << 6) | 60, 60), "cell"),
    ((None, "cover", (ROOT << 6) | 4, 4), "isolabel_ext"),
])
def test_kernel_rejects_invalid_cover(spark, row, column):
    """On every call, local (pandas-built) cover or not: a failed index
    build is never kept."""
    pts = spark.createDataFrame([(0, _cell(5, 20))], "pid long, cell long")
    for build in ("list", "pandas"):
        cov = _cover(spark, [row], build)
        for _ in range(2):
            with pytest.raises(ValueError, match=f"'{column}'"):
                cover_lookup_best(pts, cov)


def _job_ids(spark, group, fn):
    """(fn(), the ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("build", ["list", "pandas"])
def test_cover_index_built_once_per_local_cover(spark, build):
    """A pandas-built cover is local: its second lookup starts no Spark job
    (no cover collect) and returns the same rows.  A list-built one is not,
    and is collected on every call."""
    cov, pts = _frames(spark, [("CO-A", "cover", _cell(5, 8)), ("CO-B", "cover", _cell(5, 12)),
                               ("CO-C", "overlay", _cell(1 << 23, 6))],
                        [_cell(5, 20), _cell(1 << 23, 20), -1], build)
    assert cov.isLocal() == (build == "pandas")
    calls = [_job_ids(spark, f"cover-index-{build}-{k}",
                      lambda: cover_lookup_best(pts, cov, keep=["pid"], dedup=False))
             for k in range(2)]
    assert calls[0][1] and bool(calls[1][1]) == (build == "list")
    assert calls[0][0].collect() == calls[1][0].collect() == [(0, "CO-A")]


def test_flagship_is_geocode_then_lookup(spark, standin_cover):
    """The one-crossing flagship kernel returns, row for row, what the
    geocode UDF followed by the cover lookup UDF returns."""
    pg = pages(spark, 1000)
    two = cover_lookup_best(flagship_cells(pg), standin_cover, keep=["url", "cell"], dedup=False)
    got = flagship(pg, standin_cover)
    assert got.columns == two.columns
    assert sorted(got.collect()) == sorted(two.collect()) != []
