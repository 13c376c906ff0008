"""Distributed k-means (operators/kmeans.py): numpy-mirror parity and the
empty-cluster carry path."""

import hashlib

import numpy as np

from conftest import SF_DIR

from co_new_spark.operators.kmeans import kmeans_lloyd, quantize

K, T = 8, 3


def _mirror(ids, Q, k, rounds):
    """Independent integer reimplementation of the whole algorithm."""
    order = sorted(range(len(ids)),
                   key=lambda i: (hashlib.md5(str(ids[i]).encode())
                                  .hexdigest(), ids[i]))
    cents = Q[order[:k]].copy()
    alive = list(range(min(k, len(order))))

    def assign(c):
        d2 = ((Q[:, None, :].astype(np.int64) - c[None, :, :]) ** 2).sum(2)
        lab = d2.argmin(1)  # argmin returns the FIRST (lowest cid) minimum
        return lab, d2[np.arange(len(Q)), lab]

    for _ in range(rounds):
        lab, _ = assign(cents)
        for j in alive:
            m = lab == j
            if m.any():  # empty cluster keeps its previous centroid
                cents[j] = np.floor_divide(Q[m].sum(0), m.sum())
    return assign(cents) + (cents,)


def test_kmeans_matches_numpy_mirror(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = quantize(emb).select("vec_id", "q").collect()
    ids = [r["vec_id"] for r in rows]
    Q = np.array([r["q"] for r in rows], dtype=np.int64)
    lab, d2, _ = _mirror(ids, Q, K, T)
    want = {ids[i]: (int(lab[i]), int(d2[i])) for i in range(len(ids))}

    vecs = quantize(emb).select("vec_id", "q")
    got = {r["vec_id"]: (r["cluster"], r["d2"])
           for r in kmeans_lloyd(vecs, k=K, rounds=T).collect()}
    assert got == want
    assert len(set(l for l, _ in got.values())) > 1  # non-degenerate


def test_kmeans_partitioning_invariant(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = quantize(emb).select("vec_id", "q")
    a = {r["vec_id"]: (r["cluster"], r["d2"])
         for r in kmeans_lloyd(vecs, k=K, rounds=T).collect()}
    b = {r["vec_id"]: (r["cluster"], r["d2"])
         for r in kmeans_lloyd(vecs.repartition(7), k=K, rounds=T).collect()}
    assert a == b


def test_semdedup_matches_numpy_mirror(spark):
    """train_semdedup's drop rule re-derived independently in numpy from the
    mirrored clustering: drop v iff some in-eps same-cluster u beats it
    (farther from centroid, ties to smaller id)."""
    from co_new_spark.queries.training6 import _SD_EPS2, t_semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = quantize(emb).select("vec_id", "q").collect()
    ids = [r["vec_id"] for r in rows]
    Q = np.array([r["q"] for r in rows], dtype=np.int64)
    lab, d2, _ = _mirror(ids, Q, K, T)

    want = {}
    for c in set(lab.tolist()):
        idx = np.flatnonzero(lab == c)
        pd2 = ((Q[idx, None, :] - Q[None, idx, :]) ** 2).sum(2)
        for bi, b in enumerate(idx):
            beaten = any(
                ai != bi and pd2[ai, bi] <= _SD_EPS2
                and (d2[a] > d2[b] or (d2[a] == d2[b] and ids[a] < ids[b]))
                for ai, a in enumerate(idx))
            want[ids[b]] = not beaten

    got = {r["vec_id"]: r["kept"]
           for r in t_semdedup(spark, SF_DIR).collect()}
    assert got == want
    assert 0 < sum(got.values()) < len(got)  # both classes present

    # "beats" is a strict total order, so each cluster's maximal element
    # (farthest from centroid, ties to smaller id) is beaten by nobody and
    # MUST be kept — the guarantee that every duplicate clique keeps one.
    for c in set(lab.tolist()):
        idx = np.flatnonzero(lab == c)
        top = max(idx, key=lambda i: (d2[i], -ids[i]))
        assert got[ids[top]]


def test_cluster_metrics_matches_numpy_mirror(spark):
    """train_cluster_metrics re-derived from the mirrored model: per-cluster
    n / inertia / floor-mean d2 and the squared-distance Davies–Bouldin
    worst ratio in milli-units."""
    from co_new_spark.queries.training6 import t_cluster_metrics

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = quantize(emb).select("vec_id", "q").collect()
    ids = [r["vec_id"] for r in rows]
    Q = np.array([r["q"] for r in rows], dtype=np.int64)
    lab, d2, cents = _mirror(ids, Q, K, T)

    want = {}
    for c in sorted(set(lab.tolist())):
        m = lab == c
        n, inertia = int(m.sum()), int(d2[m].sum())
        s_c = int(np.floor(inertia / n))
        best = None
        for o in set(lab.tolist()):
            if o == c:
                continue
            mo = lab == o
            cd = int(((cents[c] - cents[o]) ** 2).sum())
            if cd <= 0:
                continue
            s_o = int(np.floor(int(d2[mo].sum()) / mo.sum()))
            r = int(np.floor(float(s_c + s_o) * 1000 / cd))
            best = r if best is None else max(best, r)
        want[c] = (n, inertia, s_c, best)

    got = {r["cluster"]: (r["n"], r["inertia"], r["mean_d2"], r["db_milli"])
           for r in t_cluster_metrics(spark, SF_DIR).collect()}
    assert got == want
    assert all(v[3] is not None and v[3] > 0 for v in got.values())


def test_kmeans_empty_cluster_carries_seed(spark):
    # 2 distinct points, k=3: at least one seed is a duplicate, its cluster
    # loses every tie (min-cid) and goes empty -> must carry, not crash/NaN
    df = spark.createDataFrame(
        [(i, [float(0 if i % 2 else 1)]) for i in range(6)],
        "vec_id long, embedding array<float>")
    vecs = quantize(df).select("vec_id", "q")
    out = kmeans_lloyd(vecs, k=3, rounds=2).collect()
    assert len(out) == 6
    assert all(r["d2"] == 0 for r in out)           # converged exactly
    assert len({r["cluster"] for r in out}) == 2    # one cluster starved
