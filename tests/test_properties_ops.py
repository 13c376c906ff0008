"""Randomized batch property gates for the round-2 operators.

Spark jobs are too slow for per-example hypothesis runs, so each test packs
MANY random instances into ONE DataFrame (disjoint id spaces / group keys)
and verifies the whole batch against a pure-Python reference in a single
Spark action — the property coverage of hypothesis at the cost of one job.
"""

import numpy as np


def _union_find(n_nodes, edges):
    p = {x: x for x in n_nodes}

    def find(x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            p[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in n_nodes}


def test_cc_random_graphs_batch(spark):
    from co_new_spark.operators.components import connected_components

    rng = np.random.RandomState(7)
    nodes, edges = [], []
    for g in range(30):
        base = 1000 * g
        n = rng.randint(1, 13)
        ids = [base + k for k in range(n)]
        nodes += ids
        m = rng.randint(0, 2 * n)
        for _ in range(m):
            u, v = rng.choice(ids, 2)
            edges.append((int(u), int(v)))
    expect = _union_find(nodes, [(u, v) for u, v in edges if u != v])

    e = spark.createDataFrame(edges or [(0, 0)], "u long, v long")
    nd = spark.createDataFrame([(x,) for x in nodes], "node long")
    got = {r["node"]: r["component"]
           for r in connected_components(e, nodes=nd).collect()}
    assert got == expect


def _greedy(toks, cap):
    bins, acc, b = [], 0, 0
    for i, t in enumerate(toks):
        if i > 0 and acc + t > cap:
            b, acc = b + 1, t
        else:
            acc += t
        bins.append(b)
    return bins


def test_pack_random_groups_batch(spark):
    from co_new_spark.operators.packing import pack_greedy

    rng = np.random.RandomState(11)
    cap = 100
    rows, expect = [], {}
    for g in range(50):
        n = rng.randint(1, 20)
        toks = [int(t) for t in rng.randint(1, 150, n)]
        for i, b in enumerate(_greedy(toks, cap)):
            rows.append((f"g{g}", i, toks[i]))
            expect[(f"g{g}", i)] = b
    df = spark.createDataFrame(rows, "g string, i long, tok long")
    out = pack_greedy(df, "g", "i", "tok", cap)
    got = {(r["g"], r["i"]): r["bin_id"] for r in out.collect()}
    assert got == expect


def test_compact_random_leafsets_batch(spark):
    from co_new_spark.operators.compact import compact_cover

    rng = np.random.RandomState(13)
    # random depth-12 cells under a handful of L0 digits: disjoint by
    # construction, dense enough that quads complete
    bits = np.unique(rng.randint(0, 4 * 256, 1500))  # digit 0..3, 8 ref bits
    cells = [int((b << 6) | 12) for b in bits]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    out = compact_cover(df, min_depth=4).collect()
    got = [(r["cell"], r["depth"]) for r in out]
    # leaf preservation
    assert sum(4 ** ((12 - d) // 2) for _, d in got) == len(cells)
    # no complete sibling quad above min_depth survives
    from collections import Counter

    parents = Counter(((c >> 6) >> 2, d) for c, d in got if d >= 6)
    assert not [k for k, n in parents.items() if n == 4]
    # every output cell is an ancestor-or-equal of an input leaf
    leafset = set(bits)
    for c, d in got:
        b = c >> 6
        span = 12 - d
        lo, hi = b << span, (b + 1) << span
        assert any(lo <= x < hi for x in leafset)
