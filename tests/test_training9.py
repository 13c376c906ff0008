"""Winnowing, shingle containment, curriculum order, SCD-2
(queries/training9.py, queries/relational.py::q_scd2)."""

import hashlib


from conftest import SF_DIR

K, W = 3, 4  # must mirror training9._K/_W


# ---------------------------------------------------------------------------
# pure-python winnowing mirror (Schleimer et al. 2003, rightmost-on-tie)
# ---------------------------------------------------------------------------

def _h24(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:6], 16)


def _py_winnow(text: str):
    toks = text.split(" ")
    grams = [" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1)]
    hs = [_h24(g) for g in grams]
    n = len(hs)
    if n == 0:
        return set()
    sel = set()
    for i in range(max(n - W + 1, 1)):
        win = hs[i:i + W]
        m = min(win)
        # rightmost occurrence of the min wins
        j = max(k for k, v in enumerate(win) if v == m)
        sel.add((i + j + 1, m))  # 1-based gram position
    return sel


def _spark_winnow(spark, docs):
    from co_new_spark.queries.training9 import winnow_fingerprints

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add((r["fp_pos"], r["fp_h"]))
    return by_doc


def test_winnow_matches_python_mirror(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog today again now"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    ]
    got = _spark_winnow(spark, docs)
    for doc_id, text in docs:
        assert got[doc_id] == _py_winnow(text), doc_id


def test_winnow_short_doc_selects_global_min(spark):
    # 2 grams < W: the single truncated frame keeps exactly one fingerprint
    text = "one two three four"
    got = _spark_winnow(spark, [(7, text)])
    assert got[7] == _py_winnow(text)
    assert len(got[7]) == 1


def test_winnow_shared_run_shares_fingerprint(spark):
    # the scheme's guarantee: a shared run of >= W + K - 1 tokens shares
    # at least one selected (hash) fingerprint across documents
    shared = "lorem ipsum dolor sit amet consectetur"  # 6 tokens = W+K-1
    a = "xx yy " + shared + " zz"
    b = shared + " qq rr ss"
    got = _spark_winnow(spark, [(1, a), (2, b)])
    h1 = {h for _, h in got[1]}
    h2 = {h for _, h in got[2]}
    assert h1 & h2


# ---------------------------------------------------------------------------
# shingle containment
# ---------------------------------------------------------------------------

def test_containment_planted_excerpt(spark):
    from co_new_spark.queries.training9 import containment_pairs

    short = "colombia grid cell encode decode parity"
    long_ = ("preamble words here " + short +
             " and a very long unrelated tail keeps going onward forever")
    other = "completely different content with no overlap at all whatsoever"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string")
    rows = {(r["src"], r["dst"]): r for r in containment_pairs(df).collect()}
    # every shingle of doc 1 appears in doc 2 -> full containment
    r = rows[(1, 2)]
    assert r["contain_micro"] == 1_000_000
    assert r["inter"] == r["na"]
    # the reverse direction is partial
    assert rows[(2, 1)]["contain_micro"] < 1_000_000
    assert (3, 1) not in rows and (1, 3) not in rows


def test_containment_registry_entry_sorted_and_capped(spark):
    from co_new_spark.queries.training9 import _CT_TOPK, t_shingle_contain

    rows = t_shingle_contain(spark, SF_DIR).collect()
    assert 0 < len(rows) <= _CT_TOPK
    micro = [r["contain_micro"] for r in rows]
    assert micro == sorted(micro, reverse=True)
    assert all(0 < m <= 1_000_000 for m in micro)


# ---------------------------------------------------------------------------
# curriculum order
# ---------------------------------------------------------------------------

def test_curriculum_is_a_stage_sorted_permutation(spark):
    from co_new_spark.queries.training9 import t_curriculum_order

    rows = t_curriculum_order(spark, SF_DIR).collect()
    steps = [r["step"] for r in rows]
    assert sorted(steps) == list(range(1, len(rows) + 1))
    # stages never decrease along the step order; buckets never decrease
    # within a stage (the offsets reproduce the global (stage, bucket,
    # hkey) sort without a global window)
    ordered = sorted(rows, key=lambda r: r["step"])
    assert all(a["stage"] <= b["stage"]
               for a, b in zip(ordered, ordered[1:]))
    assert all(a["bucket"] <= b["bucket"]
               for a, b in zip(ordered, ordered[1:])
               if a["stage"] == b["stage"])


def test_curriculum_plan_has_no_global_window(spark):
    from co_new_spark.plans.audit import unbounded_global_windows
    from co_new_spark.queries.training9 import t_curriculum_order

    assert unbounded_global_windows(t_curriculum_order(spark, SF_DIR)) == []


# ---------------------------------------------------------------------------
# SCD-2
# ---------------------------------------------------------------------------

def test_scd2_intervals_tile_and_collapse(spark):
    from co_new_spark.queries.relational import q_scd2

    rows = q_scd2(spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for u, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        # exactly one open (current) interval, and it is the last version
        assert [r["is_current"] for r in vs].count(True) == 1
        assert vs[-1]["is_current"] and vs[-1]["effective_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["effective_to"] == b["effective_from"]  # half-open tiling
            assert a["status"] != b["status"]  # repeats collapsed
