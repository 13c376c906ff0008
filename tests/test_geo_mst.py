"""Borůvka MSF (queries/geo_mst.py): Kruskal parity + entry invariants."""

import random

import pandas as pd
import pytest

from conftest import SF_DIR

from co_new_spark.queries.geo_mst import (
    _MST_MAX_CELLS,
    _density_graph,
    _uf_contract,
    boruvka_msf,
    g_mst,
)


def _kruskal(nodes, edges):
    """Reference MSF under the (w, u, v) total order — a different greedy
    (global edge scan + union-find) from Borůvka's per-component mins."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, u, v in sorted((w, u, v) for u, v, w in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.append((u, v, w))
    return sorted(out)


def _spark_msf(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long")
    edf = spark.createDataFrame(edges, "u long, v long, w long")
    return sorted((r.u, r.v, r.w) for r in boruvka_msf(ndf, edf).collect())


def test_uf_contract_rejects_a_group_over_the_lattice_cap():
    n = _MST_MAX_CELLS
    chain = pd.DataFrame({"cu": range(1, n + 1), "cv": range(n)})
    got = _uf_contract(chain)                    # at the cap: one component
    assert set(got["c_new"]) == {0} and len(got) == n + 1
    with pytest.raises(ValueError, match=str(_MST_MAX_CELLS)):
        _uf_contract(pd.DataFrame({"cu": range(1, n + 2),
                                   "cv": range(n + 1)}))


def test_boruvka_handmade_forest(spark):
    # two components + an isolated node; ties on w resolved by (u, v)
    nodes = [1, 2, 3, 4, 10, 11, 12, 99]
    edges = [(1, 2, 5), (2, 3, 5), (1, 3, 5), (3, 4, 1),
             (10, 11, 2), (11, 12, 2), (10, 12, 9)]
    want = _kruskal(nodes, edges)
    assert _spark_msf(spark, nodes, edges) == want
    assert len(want) == (4 - 1) + (3 - 1)          # forest sizes
    assert (2, 3, 5) not in want                   # loser of the 5-tie cycle


def test_boruvka_chain_contraction(spark):
    # strictly increasing path weights: every component's min edge points
    # LEFT, so each round's chosen graph is one long chain — the worst case
    # for the contraction step (max union-find depth, no mutual pairs
    # except at the head).
    n = 33
    nodes = list(range(n))
    edges = [(i, i + 1, 100 + i) for i in range(n - 1)]
    assert _spark_msf(spark, nodes, edges) == _kruskal(nodes, edges)


def test_boruvka_matches_kruskal_random(spark):
    rng = random.Random(20260821)
    for trial in range(4):
        n = rng.randrange(8, 40)
        nodes = list(range(n))
        pairs = {(u, v) for u in range(n) for v in range(u + 1, n)
                 if rng.random() < 0.15}
        edges = [(u, v, rng.randrange(4)) for u, v in sorted(pairs)]
        assert _spark_msf(spark, nodes, edges) == _kruskal(nodes, edges), \
            f"trial {trial}"


def test_entry_is_a_spanning_forest_of_the_density_graph(spark):
    nodes, edges = _density_graph(spark, SF_DIR)
    nd = [r.cell for r in nodes.select("cell").collect()]
    ed = [(r.u, r.v, r.w) for r in edges.collect()]
    nodes.unpersist()
    got = sorted((r.u, r.v, r.w) for r in g_mst(spark, SF_DIR).collect())
    assert got == _kruskal(nd, ed)
    # spanning forest: |MSF| = V - #components of the full graph
    parent = {n: n for n in nd}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _w in ed:
        parent[find(u)] = find(v)
    ncomp = len({find(n) for n in nd})
    assert len(got) == len(nd) - ncomp
    assert len(got) == len({(u, v) for u, v, _ in got})  # no duplicate edges


def test_single_linkage_matches_cut_mirror(spark):
    from co_new_spark.queries.geo_mst import _SL_K, g_single_linkage

    nodes, edges = _density_graph(spark, SF_DIR)
    nd = [r.cell for r in nodes.select("cell").collect()]
    ed = [(r.u, r.v, r.w) for r in edges.collect()]
    nodes.unpersist()
    msf = _kruskal(nd, ed)
    # same cut rule: drop the k-1 heaviest by the strict (w, u, v) order
    heavy = set(sorted(msf, key=lambda e: (e[2], e[0], e[1]))[-(_SL_K - 1):])
    keep = [e for e in msf if e not in heavy]
    parent = {n: n for n in nd}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _w in keep:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    lab = {n: find(n) for n in nd}
    from collections import Counter
    sizes = Counter(lab.values())
    want = sorted((n, lab[n], sizes[lab[n]]) for n in nd)
    got = sorted((r.cell, r.cluster, r.n_cells)
                 for r in g_single_linkage(spark, SF_DIR).collect())
    assert got == want
    # forest semantics: cutting k-1 edges adds exactly k-1 clusters
    # (components of the FULL msf give the before-count)
    parent2 = {n: n for n in nd}

    def find2(x):
        while parent2[x] != x:
            parent2[x] = parent2[parent2[x]]
            x = parent2[x]
        return x

    for u, v, _w in msf:
        parent2[max(find2(u), find2(v))] = min(find2(u), find2(v))
    c_before = len({find2(n) for n in nd})
    assert len(sizes) == c_before + (_SL_K - 1)
