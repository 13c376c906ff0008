"""Connected components, greedy packing, TF-IDF top-k (queries/training3.py)."""

from pyspark.sql import functions as F

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# connected_components (operators/components.py)
# ---------------------------------------------------------------------------


def _cc(spark, edges, nodes=None):
    from co_new_spark.operators.components import connected_components

    e = spark.createDataFrame(edges, "u long, v long")
    n = spark.createDataFrame([(x,) for x in nodes], "node long") if nodes else None
    rows = connected_components(e, nodes=n).collect()
    return {r["node"]: r["component"] for r in rows}


def test_cc_chain_merges_to_min(spark):
    # a 6-node path: worst case for naive propagation, log rounds for star
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    assert got == {i: 1 for i in range(1, 7)}


def test_cc_two_components_and_isolated(spark):
    got = _cc(spark, [(10, 11), (11, 12), (30, 31)], nodes=[10, 11, 12, 30, 31, 99])
    assert got == {10: 10, 11: 10, 12: 10, 30: 30, 31: 30, 99: 99}


def test_cc_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_star_already_converged(spark):
    got = _cc(spark, [(1, 5), (1, 6), (1, 7)])
    assert got == {1: 1, 5: 1, 6: 1, 7: 1}


def test_cc_empty_edges_nodes_only(spark):
    got = _cc(spark, [], nodes=[3, 4])
    assert got == {3: 3, 4: 4}


def test_cc_matches_pair_graph_closure(spark):
    """Components over the sf0.001 Jaccard pair graph: every edge endpoint
    pair shares a component, and each component's id is its min member."""
    from co_new_spark.operators.components import connected_components
    from co_new_spark.queries.training import t_ngram_jaccard_pairs

    pairs = t_ngram_jaccard_pairs(spark, SF_DIR)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges)
    lab = {r["node"]: r["component"] for r in comp.collect()}
    for r in pairs.collect():
        assert lab[r["doc_a"]] == lab[r["doc_b"]]
    by_comp: dict = {}
    for n, c in lab.items():
        by_comp.setdefault(c, []).append(n)
    for c, members in by_comp.items():
        assert c == min(members)


# ---------------------------------------------------------------------------
# pack_greedy (operators/packing.py)
# ---------------------------------------------------------------------------


def _pack(spark, rows, capacity):
    from co_new_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(rows, "g string, i long, tok long")
    out = pack_greedy(df, "g", "i", "tok", capacity)
    return {(r["g"], r["i"]): r["bin_id"] for r in out.collect()}


def test_pack_basic_fill(spark):
    rows = [("a", 1, 40), ("a", 2, 40), ("a", 3, 40), ("a", 4, 40)]
    # capacity 100: 40+40=80 fits, +40 overflows -> new bin
    got = _pack(spark, rows, 100)
    assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1, ("a", 4): 1}


def test_pack_oversized_row_gets_own_bin(spark):
    rows = [("a", 1, 10), ("a", 2, 500), ("a", 3, 10)]
    got = _pack(spark, rows, 100)
    assert got == {("a", 1): 0, ("a", 2): 1, ("a", 3): 2}


def test_pack_groups_independent_and_ordered(spark):
    rows = [("b", 2, 60), ("b", 1, 60), ("c", 1, 10)]
    got = _pack(spark, rows, 100)
    # within b, order by i: row 1 first -> bin 0, row 2 overflows -> bin 1
    assert got == {("b", 1): 0, ("b", 2): 1, ("c", 1): 0}


def test_pack_bins_respect_capacity(spark):
    from co_new_spark.operators.packing import pack_greedy
    from co_new_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    out = pack_greedy(docs, "source", "doc_id", "n_tok", 128)
    sums = (out.groupBy("source", "bin_id")
               .agg(F.sum("n_tok").alias("tot"), F.count("*").alias("n"))
               .collect())
    for r in sums:
        # a bin over capacity must be a single oversized row
        assert r["tot"] <= 128 or r["n"] == 1
    # bin ids are dense from 0 per source
    per_src = (out.groupBy("source")
                  .agg(F.min("bin_id").alias("lo"),
                       F.max("bin_id").alias("hi"),
                       F.countDistinct("bin_id").alias("nb")).collect())
    for r in per_src:
        assert r["lo"] == 0 and r["nb"] == r["hi"] + 1


# ---------------------------------------------------------------------------
# TF-IDF top-k
# ---------------------------------------------------------------------------


def test_tfidf_rare_term_outranks_common(spark):
    from co_new_spark.queries.training3 import t_tfidf_topk

    out = t_tfidf_topk(spark, SF_DIR)
    rows = out.collect()
    assert rows, "tfidf produced no rows"
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        # scores are non-increasing in rank
        assert all(rs[i]["score"] >= rs[i + 1]["score"] for i in range(len(rs) - 1))


def test_dedup_keep_best_members_cover_all_docs(spark):
    from co_new_spark.queries.training3 import t_dedup_keep_best
    from co_new_spark.sources.tables import load

    out = t_dedup_keep_best(spark, SF_DIR)
    n_docs = load(spark, SF_DIR, "documents").count()
    agg = out.agg(F.sum("n_members").alias("s"),
                  F.count("*").alias("k")).collect()[0]
    assert agg["s"] == n_docs           # every doc in exactly one cluster
    assert agg["k"] <= n_docs           # at most one canonical per doc
    assert out.filter(F.col("canonical_doc") < F.col("component")).count() == 0


def test_neardup_scaled_candidates_share_components(spark):
    from co_new_spark.operators.components import connected_components
    from co_new_spark.queries.training import t_minhash_lsh_candidates
    from co_new_spark.queries.training3 import t_neardup_scaled
    from co_new_spark.sources.tables import load

    pairs = t_minhash_lsh_candidates(spark, SF_DIR)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges)
    lab = {r["node"]: r["component"] for r in comp.collect()}
    for r in pairs.collect():
        assert lab[r["doc_a"]] == lab[r["doc_b"]]
    # histogram totals the whole corpus
    hist = t_neardup_scaled(spark, SF_DIR).collect()
    n_docs = load(spark, SF_DIR, "documents").count()
    assert sum(r["size"] * r["n_clusters"] for r in hist) == n_docs


def test_cc_long_chain_converges_within_iteration_budget(spark):
    """A 512-node path graph — the adversarial diameter case for label
    propagation — must converge to one component inside the default
    max_iter (large-star/small-star is O(log^2 n) rounds)."""
    got = _cc(spark, [(i, i + 1) for i in range(511)])
    assert set(got.values()) == {0}
    assert len(got) == 512
