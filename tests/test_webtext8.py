"""Hand-built HLL (queries/webtext8.py): mirror, merge law, accuracy."""

import hashlib

import duckdb

from conftest import SF_DIR

from co_new_spark.queries.webtext8 import (
    _HLL_ANUM,
    _HLL_M,
    _HLL_RBITS,
    g_hll_vocab,
)


def _shingle_sets():
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT source, string_split(text, ' ')
        FROM read_parquet('{SF_DIR}/documents.parquet')""").fetchall()
    out = {}
    for src, ws in rows:
        s = out.setdefault(src, set())
        for i in range(len(ws) - 2):
            s.add(" ".join(ws[i:i + 3]))
    return out


def _sketch(items):
    regs = [0] * _HLL_M
    for s in items:
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        idx, rest = h % _HLL_M, h // _HLL_M
        if rest == 0:
            rho = _HLL_RBITS
        else:
            rho = (rest & -rest).bit_length()   # trailing zeros + 1
        regs[idx] = max(regs[idx], rho)
    return regs


def _est(regs):
    num = sum(1 << (_HLL_RBITS - r) for r in regs)
    return num, sum(1 for r in regs if r == 0), _HLL_ANUM / num


def test_entry_matches_python_mirror(spark):
    sets = _shingle_sets()
    want = {}
    for src, items in sets.items():
        num, vz, est = _est(_sketch(items))
        want[src] = (num, vz, len(items))
    got = {r.source: (r.num, r.v_zeros, r.exact_d)
           for r in g_hll_vocab(spark, SF_DIR).collect()}
    assert got == want


def test_accuracy_in_the_unbiased_regime(spark):
    rows = g_hll_vocab(spark, SF_DIR).collect()
    assert len(rows) == 20
    errs = []
    for r in rows:
        assert r.v_zeros == 0        # ~850+ distinct >> 64 registers
        errs.append(abs(r.raw_est - r.exact_d) / r.exact_d)
    assert max(errs) < 0.40          # single-source worst case (~2.4 sigma)
    assert sum(errs) / len(errs) < 0.15   # fleet-level HLL64 error


def test_merge_law():
    # sketch(A | B) == register-wise max of sketch(A), sketch(B)
    sets = _shingle_sets()
    srcs = sorted(sets)
    a, b = sets[srcs[0]], sets[srcs[1]]
    merged = [max(x, y) for x, y in zip(_sketch(a), _sketch(b))]
    assert merged == _sketch(a | b)


def test_kmv_mirror_merge_and_accuracy(spark):
    from co_new_spark.queries.webtext8 import _KMV_K, g_kmv_vocab

    sets = _shingle_sets()

    def kmv(items):
        hs = sorted({int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                     for s in items})[:_KMV_K]
        return hs

    want = {}
    for src, items in sets.items():
        hs = kmv(items)
        want[src] = (len(hs), max(hs), sum(hs), len(items))
    rows = g_kmv_vocab(spark, SF_DIR).collect()
    got = {r.source: (r.n_seen, r.hk, r.hsum, r.exact_d) for r in rows}
    assert got == want
    # accuracy: K=32 bottom-k estimator, ~850+ distinct per source
    errs = [abs(r.kmv_est - r.exact_d) / r.exact_d for r in rows]
    assert max(errs) < 0.6 and sum(errs) / len(errs) < 0.2
    # exact-below-K law: a tiny set IS its sketch
    tiny = {"a b c", "b c d"}
    assert len(kmv(tiny)) == 2
    # merge law: bottom-K of the union == bottom-K of merged bottom-Ks
    srcs = sorted(sets)
    a, b = sets[srcs[0]], sets[srcs[1]]
    merged = sorted(set(kmv(a)) | set(kmv(b)))[:_KMV_K]
    assert merged == kmv(a | b)
