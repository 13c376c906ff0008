"""Cover compaction (operators/compact.py): quad-merge semantics and
leaf-count preservation."""

from pyspark.sql import functions as F

from conftest import SF_DIR, needs_reference


def _pack(bits, nbits):
    return (bits << 6) | nbits


def _compact(spark, cells, min_depth=4):
    from co_new_spark.operators.compact import compact_cover

    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    return sorted(r["cell"] for r in compact_cover(df, min_depth=min_depth).collect())


def test_complete_quad_merges(spark):
    parent = _pack(0b101101, 6)
    kids = [_pack((0b101101 << 2) | k, 8) for k in range(4)]
    assert _compact(spark, kids) == [parent]


def test_partial_quad_untouched(spark):
    kids = [_pack((0b101101 << 2) | k, 8) for k in range(3)]
    assert _compact(spark, kids) == sorted(kids)


def test_cascade_two_levels(spark):
    gp = _pack(0b1011, 4 + 2)  # depth-6 grandparent
    grandkids = [_pack((0b1011 << 4) | k, 10) for k in range(16)]
    assert _compact(spark, grandkids) == [gp]


def test_min_depth_floor_respected(spark):
    # 4 complete depth-6 siblings would merge to depth 4, but min_depth=6 stops it
    kids = [_pack((0b10 << 2) | k, 6) for k in range(4)]
    assert _compact(spark, kids, min_depth=6) == sorted(kids)


def test_mixed_depth_and_duplicates(spark):
    parent = _pack(0b111111, 6)
    kids = [_pack((0b111111 << 2) | k, 8) for k in range(4)]
    lone = _pack(0b0001, 4)
    got = _compact(spark, kids + kids + [lone])  # duplicates collapse first
    assert got == sorted([parent, lone])


def test_leaf_count_preserved_on_events(spark):
    """Compaction must repartition the SAME leaf set: sum of 4^((12-d)/2)
    over the compacted cover == number of distinct depth-12 input cells."""
    from co_new_spark.operators.compact import compact_cover
    from co_new_spark.functions import geo
    from co_new_spark.queries.geospatial import _event_points

    for rbits, must_merge in ((8, False), (4, True)):
        cells = _event_points(spark, SF_DIR).select(
            geo.xy_to_cell_b(F.col("x"), F.col("y"), rbits).alias("cell"))
        n_leaves = cells.filter(F.col("cell") >= 0).distinct().count()
        out = compact_cover(cells, min_depth=4)
        top = 4 + rbits
        got = out.select(
            F.pow(F.lit(4.0), (F.lit(top) - F.col("depth")) / 2).cast("long")
            .alias("w")).agg(F.sum("w")).first()[0]
        assert got == n_leaves
        if must_merge:  # at rbits=4 the 1k-event set saturates its quads
            assert out.count() < n_leaves


def _dissolve(spark, rows, min_depth=4):
    from co_new_spark.operators.compact import dissolve_cover

    df = spark.createDataFrame(rows, "g string, cell long")
    out = dissolve_cover(df, group_cols=("g",), min_depth=min_depth)
    return sorted((r["g"], r["cell"]) for r in out.collect())


def test_dissolve_unions_dedups_and_merges_across_members(spark):
    # two members each contribute 2 of a quad's 4 children (plus one shared
    # duplicate) -> union completes the quad -> parent survives
    parent = _pack(0b101101, 6)
    kids = [_pack((0b101101 << 2) | k, 8) for k in range(4)]
    rows = [("A", kids[0]), ("A", kids[1]), ("A", kids[2]),
            ("A", kids[2]), ("A", kids[3])]
    assert _dissolve(spark, rows) == [("A", parent)]


def test_dissolve_prunes_contained_descendants(spark):
    # a coarse cell plus a deeper descendant from a sibling member: the
    # descendant must vanish (pruned), NOT block or duplicate coverage
    coarse = _pack(0b101101, 6)
    desc = _pack((0b101101 << 4) | 0b0110, 10)
    other = _pack(0b0001, 4)
    assert _dissolve(spark, [("A", coarse), ("A", desc), ("A", other)]) == \
        sorted([("A", coarse), ("A", other)])


def test_dissolve_groups_independent(spark):
    # the same complete quad split across two groups must NOT merge
    kids = [_pack((0b101101 << 2) | k, 8) for k in range(4)]
    rows = [("A", kids[0]), ("A", kids[1]), ("B", kids[2]), ("B", kids[3])]
    assert _dissolve(spark, rows) == sorted(
        [("A", kids[0]), ("A", kids[1]), ("B", kids[2]), ("B", kids[3])])


@needs_reference("citycover.csv")
def test_dissolve_output_is_antichain_on_citycover(spark):
    """geo_dissolve over the real dim: no output cell may contain another
    of the same department (the union is a partition, not a multi-cover)."""
    from co_new_spark.functions import cells_sql
    from co_new_spark.queries.geo_cover_sql import g_dissolve

    out = g_dissolve(spark, SF_DIR).localCheckpoint(eager=True)
    a = out.select("dept", F.col("cell").alias("ca"))
    b = out.select("dept", F.col("cell").alias("cb"))
    viol = (a.join(b, "dept")
             .filter((F.col("ca") != F.col("cb"))
                     & cells_sql.cell_contains(F.col("ca"), F.col("cb"))))
    assert viol.count() == 0
    assert out.count() > 0


def test_dissolve_preserves_group_leaf_union_random(spark):
    """Dissolve on seeded-random mixed-depth cell sets (overlaps, duplicates,
    containments included by construction): per group, the output must be an
    ANTICHAIN covering EXACTLY the input's leaf-set union — dedup, descendant
    pruning and quad compaction may repartition area but never create or
    destroy it."""
    import random

    from co_new_spark.operators.compact import dissolve_cover

    rnd = random.Random(7)
    maxd = 10
    rows = []
    for g in "ABC":
        for _ in range(40):
            d = rnd.choice([4, 6, 7, 8, 9, 10])
            rows.append((g, (rnd.randrange(1 << d) << 6) | d))

    def leaves(cells):
        out = set()
        for c in cells:
            bits, d = c >> 6, c & 63
            for off in range(1 << (maxd - d)):
                out.add((bits << (maxd - d)) | off)
        return out

    df = spark.createDataFrame(rows, "g string, cell long")
    got = {}
    for r in dissolve_cover(df, group_cols=("g",), min_depth=4).collect():
        got.setdefault(r["g"], []).append(r["cell"])
    for g in "ABC":
        want = leaves(c for grp, c in rows if grp == g)
        assert leaves(got[g]) == want, g
        # antichain: no output cell contains another
        cs = sorted(got[g])
        for i, a in enumerate(cs):
            ab, ad = a >> 6, a & 63
            for b in cs:
                if a != b:
                    bd = b & 63
                    assert not (bd > ad and (b >> 6) >> (bd - ad) == ab), (a, b)


def test_erode_matches_numpy_king_blocks(spark):
    """g_cover_erode vs a driver-side numpy restatement: a member is
    interior iff all 8 in-grid king neighbors are members (off-grid =
    background).  Run at sf0.01 so BOTH classes occur (sf0.001 is too
    sparse for any complete 3x3 block — all-boundary there, also checked)."""
    import numpy as np

    from co_new_spark.grid import cells as ncells
    from co_new_spark.queries.geo_algebra import g_cover_erode

    for sf_dir, expect_interior in (("/root/testdata/sf0.01", True),
                                    (SF_DIR, False)):
        got = {r["cell"]: r["is_interior"]
               for r in g_cover_erode(spark, sf_dir).collect()}
        members = np.array(sorted(got), dtype=np.int64)
        nb = ncells.neighbors_b(members, ring=1)
        mset = set(members.tolist())
        for me, row in zip(members.tolist(), nb):
            ingrid = [int(v) for v in row if v >= 0]
            want = len(ingrid) == 8 and all(v in mset for v in ingrid)
            assert got[me] == want, me
        assert any(got.values()) == expect_interior
        assert not all(got.values())


def test_dilate_adds_shell_and_keeps_core(spark):
    from co_new_spark.queries.geo_algebra import g_cover_dilate
    from co_new_spark.queries.geospatial import _event_points
    from co_new_spark.functions import geo

    out = {r["cell"]: r["is_core"] for r in g_cover_dilate(spark, SF_DIR).collect()}
    core = {r["cell"] for r in
            _event_points(spark, SF_DIR)
            .withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 4))
            .filter(F.col("cell") >= 0).select("cell").distinct().collect()}
    assert core <= set(out)                       # dilation is a superset
    assert all(out[c] for c in core)              # core flagged
    shell = {c for c, k in out.items() if not k}
    assert shell and shell.isdisjoint(core)       # a real shell was added


def test_region_centroid_inside_cell_and_snap_consistent(spark):
    from co_new_spark.functions import cells_sql
    from co_new_spark.queries.geospatial import g_region_centroid

    out = g_region_centroid(spark, SF_DIR)
    # the centroid of a convex cell's members lies inside the cell, so the
    # depth-12 snap cell must be a descendant of the depth-8 source cell
    bad = out.filter(
        (F.col("snap_cell") < 0)
        | ~cells_sql.cell_contains(F.col("cell"), F.col("snap_cell")))
    assert bad.count() == 0
    assert out.count() > 0
