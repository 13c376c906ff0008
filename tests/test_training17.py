"""PQ-ANN (queries/training17.py): recall gate, python mirror, protocol."""

import hashlib

import duckdb

from conftest import SF_DIR

from co_new_spark.queries.training17 import (
    _PQ_K,
    _PQ_NQ,
    _PQ_R,
    _PQ_TOPK,
    g_pq_ann,
)


def _load_ints():
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1024) + 1024
                             AS BIGINT))
        FROM read_parquet('{SF_DIR}/embeddings.parquet')""").fetchall()
    return {r[0]: list(r[1]) for r in rows}


def _py_pipeline(ints):
    """Full python mirror: winners -> lloyd -> codes -> ADC -> shortlist ->
    exact re-rank."""
    ids = sorted(ints)
    dims = len(ints[ids[0]])
    # sampled winners
    best = {}
    for v in ids:
        k = v % _PQ_K
        h = int(hashlib.md5(f"pq_{v}".encode()).hexdigest()[:8], 16)
        if k not in best or (h, v) < best[k][:2]:
            best[k] = (h, v, ints[v])
    cb = {(j, k): best[k][2][j - 1]
          for k in best for j in range(1, dims + 1)}
    # one lloyd round (ties to smallest k), integer means
    sums, cnts = {}, {}
    for v in ids:
        for j in range(1, dims + 1):
            x = ints[v][j - 1]
            k0 = min(range(_PQ_K),
                     key=lambda k: ((x - cb[(j, k)]) ** 2, k))
            sums[(j, k0)] = sums.get((j, k0), 0) + x
            cnts[(j, k0)] = cnts.get((j, k0), 0) + 1
    cb = {jk: (sums[jk] // cnts[jk]) if jk in cnts else c
          for jk, c in cb.items()}
    # codes
    codes = {v: [min(range(_PQ_K),
                     key=lambda k: ((ints[v][j - 1] - cb[(j, k)]) ** 2, k))
                 for j in range(1, dims + 1)] for v in ids}
    out = []
    for q in range(_PQ_NQ):
        qd = {(j, k): (ints[q][j - 1] - cb[(j, k)]) ** 2
              for j in range(1, dims + 1) for k in range(_PQ_K)}
        adc = {c: sum(qd[(j, codes[c][j - 1])] for j in range(1, dims + 1))
               for c in ids if c != q}
        short = sorted(adc, key=lambda c: (adc[c], c))[:_PQ_R]
        d2 = {c: sum((a - b) ** 2 for a, b in zip(ints[q], ints[c]))
              for c in short}
        top = sorted(short, key=lambda c: (d2[c], c))[:_PQ_TOPK]
        out += [(q, c, d2[c], i + 1) for i, c in enumerate(top)]
    return out


def test_int_protocol_nonnegative():
    """The PQ entry's precondition on this corpus: min(floor(v*1024)+1024)
    >= 0, i.e. every embedding value >= -1.  The Lloyd mean uses Spark's
    truncating ``div``, which equals DuckDB's flooring ``//`` only on
    non-negative sums; a corpus with values below -1 would make the engines
    drift apart instead of failing."""
    ints = _load_ints()
    assert min(min(v) for v in ints.values()) >= 0   # trunc == floor holds
    assert max(max(v) for v in ints.values()) < 2048


def test_entry_matches_python_mirror(spark):
    ints = _load_ints()
    want = _py_pipeline(ints)
    got = [(r.qid, r.cid, r.d2, r.rn)
           for r in g_pq_ann(spark, SF_DIR).collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == _PQ_NQ * _PQ_TOPK


def test_recall_vs_exact_brute_force(spark):
    # the pipeline claim: ADC shortlist at R=50 recovers the TRUE top-5
    # (measured recall 1.00 on this corpus; gate at >= 0.9)
    ints = _load_ints()
    got = {}
    for r in g_pq_ann(spark, SF_DIR).collect():
        got.setdefault(r.qid, set()).add(r.cid)
    hits = total = 0
    for q in range(_PQ_NQ):
        d2 = {c: sum((a - b) ** 2 for a, b in zip(ints[q], ints[c]))
              for c in ints if c != q}
        exact = set(sorted(d2, key=lambda c: (d2[c], c))[:_PQ_TOPK])
        hits += len(exact & got[q])
        total += _PQ_TOPK
    assert hits / total >= 0.9
