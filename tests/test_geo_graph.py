"""Integer-exact PageRank over cell adjacency (queries/geo_graph.py)."""

from conftest import SF_DIR

from co_new_spark.queries.geo_graph import (
    _PR_BASE,
    _PR_DDEN,
    _PR_DNUM,
    _PR_SCALE,
    g_cell_pagerank,
    pagerank_int,
)


def _py_pagerank(nodes, edges, iters):
    """Reference implementation with the same integer contract."""
    deg = {}
    for u, _v in edges:
        deg[u] = deg.get(u, 0) + 1
    rank = {n: _PR_SCALE for n in nodes}
    for _ in range(iters):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += rank[u] // deg[u]
        rank = {n: _PR_BASE + (_PR_DNUM * s[n]) // _PR_DDEN for n in nodes}
    return rank


def _spark_pagerank(spark, nodes, edges, iters):
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long")
    edf = spark.createDataFrame(edges, "u long, v long")
    rows = pagerank_int(ndf, edf, iters).collect()
    return {r["cell"]: r["rank"] for r in rows}


def _sym(pairs):
    return [(u, v) for a, b in pairs for u, v in ((a, b), (b, a))]


def test_pagerank_path_graph_matches_reference(spark):
    nodes = [1, 2, 3, 4]
    edges = _sym([(1, 2), (2, 3), (3, 4)])
    for iters in (1, 3):
        assert _spark_pagerank(spark, nodes, edges, iters) \
            == _py_pagerank(nodes, edges, iters)


def test_pagerank_star_and_isolated(spark):
    """Hub of a star outranks leaves; an isolated node decays to BASE."""
    nodes = [0, 1, 2, 3, 99]
    edges = _sym([(0, 1), (0, 2), (0, 3)])
    got = _spark_pagerank(spark, nodes, edges, 3)
    assert got == _py_pagerank(nodes, edges, 3)
    assert got[0] > got[1] == got[2] == got[3]
    assert got[99] == _PR_BASE


def test_pagerank_entry_invariants(spark):
    """Entry-level sanity at sf0.001: every occupied cell labelled, ranks
    positive, and the max-rank cell is not an isolated one."""
    df = g_cell_pagerank(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["rank"] >= _PR_BASE and r["n"] >= 1 for r in rows)
    top = max(rows, key=lambda r: r["rank"])
    assert top["rank"] > _PR_BASE  # the densest area has in-links


def test_pagerank_deterministic_under_partitioning(spark):
    """The integer contract's point: identical ranks at different
    parallelism/partitioning."""
    nodes = list(range(12))
    edges = _sym([(i, (i * 7 + 3) % 12) for i in range(12)])
    edges = [(u, v) for u, v in edges if u != v]
    a = _spark_pagerank(spark, nodes, edges, 3)
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long").repartition(7)
    edf = spark.createDataFrame(edges, "u long, v long").repartition(5)
    b = {r["cell"]: r["rank"]
         for r in pagerank_int(ndf, edf, 3).collect()}
    assert a == b


def test_bfs_hops_path_cap_and_unreachable(spark):
    """Line 0-1-2-3-4-5-6 seeded at 0: hops count up to the K=4 cap; beyond
    it (and disconnected nodes) report -1."""
    from co_new_spark.queries.geo_graph import _BFS_K, bfs_hops

    nodes = list(range(7)) + [99]
    edges = _sym([(i, i + 1) for i in range(6)])
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long")
    edf = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(0,)], "cell long")
    got = {r["cell"]: r["hop"] for r in bfs_hops(ndf, edf, seeds).collect()}
    want = {i: (i if i <= _BFS_K else -1) for i in range(7)}
    want[99] = -1
    assert got == want


def test_bfs_hops_multi_source_takes_nearest(spark):
    from co_new_spark.queries.geo_graph import bfs_hops

    nodes = [1, 2, 3, 4, 5]
    edges = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long")
    edf = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(1,), (5,)], "cell long")
    got = {r["cell"]: r["hop"] for r in bfs_hops(ndf, edf, seeds).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_cost_surface_prefers_cheap_detour(spark):
    """Diamond 1->(2|3)->4, entering costs n: via node 3 (n=1) is cheaper
    than via node 2 (n=50) even though both are 2 hops; seed costs 0."""
    from co_new_spark.queries.geo_graph import cost_surface

    ncounts = {1: 9, 2: 50, 3: 1, 4: 2, 99: 7}
    edges = _sym([(1, 2), (1, 3), (2, 4), (3, 4)])
    ndf = spark.createDataFrame(list(ncounts.items()), "cell long, n long")
    edf = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(1,)], "cell long")
    got = {r["cell"]: r["cost"]
           for r in cost_surface(ndf, edf, seeds).collect()}
    assert got == {1: 0, 2: 50, 3: 1, 4: 3, 99: -1}


def test_cost_surface_hop_cap_and_partitioning(spark):
    """Line graph with unit costs: cost == hop count up to the K cap, -1
    beyond; result invariant under repartitioning."""
    from co_new_spark.queries.geo_graph import _CS_K, cost_surface

    n = _CS_K + 3
    ndf = spark.createDataFrame([(i, 1) for i in range(n)],
                                "cell long, n long")
    edf = spark.createDataFrame(_sym([(i, i + 1) for i in range(n - 1)]),
                                "u long, v long")
    seeds = spark.createDataFrame([(0,)], "cell long")
    got = {r["cell"]: r["cost"]
           for r in cost_surface(ndf, edf, seeds).collect()}
    want = {i: (i if i <= _CS_K else -1) for i in range(n)}
    assert got == want
    got2 = {r["cell"]: r["cost"]
            for r in cost_surface(ndf.repartition(5), edf.repartition(3),
                                  seeds).collect()}
    assert got2 == want


# --------------------------------------------------------------------------
# flow_accum (density-ascent flow direction + catchment accumulation)
# --------------------------------------------------------------------------


def _flow(spark, node_counts, edges, k=6):
    from co_new_spark.queries.geo_graph import flow_accum

    ndf = spark.createDataFrame(list(node_counts.items()), "cell long, n long")
    edf = spark.createDataFrame(edges, "u long, v long")
    return {r.cell: (r.down_cell, r.acc)
            for r in flow_accum(ndf, edf, k=k).collect()}


def test_flow_chain_accumulates_to_peak(spark):
    """Monotone chain 1<2<3<4: every cell flows uphill, the peak's basin is
    the whole chain, and acc along the chain is 1,2,3,4."""
    counts = {1: 10, 2: 20, 3: 30, 4: 40}
    edges = _sym([(1, 2), (2, 3), (3, 4)])
    got = _flow(spark, counts, edges)
    assert got == {1: (2, 1), 2: (3, 2), 3: (4, 3), 4: (-1, 4)}


def test_flow_ties_break_by_cell_id_and_stay_acyclic(spark):
    """A plateau (equal counts) must still form a forest: the (n, cell)
    lexicographic order sends every cell toward the max id, no cycles."""
    counts = {1: 5, 2: 5, 3: 5}
    edges = _sym([(1, 2), (2, 3), (1, 3)])
    got = _flow(spark, counts, edges)
    assert got[3] == (-1, 3)          # max id = the only peak
    assert got[1][0] == 3 and got[2][0] == 3
    # forest property: following down_cell strictly increases (n, cell)
    for c, (d, _a) in got.items():
        if d != -1:
            assert (counts[d], d) > (counts[c], c)


def test_flow_hop_cap_bounds_counting(spark):
    """With k=1 only direct children are counted: a 3-chain's peak sees
    acc=2 (self + immediate child), not the full basin."""
    counts = {1: 10, 2: 20, 3: 30}
    edges = _sym([(1, 2), (2, 3)])
    got = _flow(spark, counts, edges, k=1)
    assert got[3] == (-1, 2)


def test_flow_entry_partitioning_invariance(spark):
    from conftest import SF_DIR as sfd

    from co_new_spark.queries.geo_graph import g_flow_accum

    a = {tuple(r) for r in g_flow_accum(spark, sfd).collect()}
    b = {tuple(r) for r in g_flow_accum(spark, sfd).collect()}
    assert a and a == b
    # every cell's basin contains at least itself; peaks exist
    assert all(r[3] >= 1 for r in a)
    assert any(r[2] == -1 for r in a)
