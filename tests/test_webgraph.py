"""Link-graph + indexing/sampling entries (queries/webgraph.py,
queries/training8.py).

The oracle gate proves cross-engine value identity; these tests pin the
properties the oracle cannot see: extraction completeness (every planted
anchor is found), the planted hub skew actually surfacing in PageRank,
partitioning-invariance of the integer rank protocol, edit-distance
ground truth vs a pure-python DP, and posting tf/first_pos ground truth
vs a pure-python scan of the same text.
"""

from pyspark.sql import functions as F

from conftest import SF_DIR

from co_new_spark.queries.training8 import (_SS_QUOTA, t_inverted_postings,
                                            t_stratified_sample)
from co_new_spark.queries.webgraph import (_LP_HUBS, _LP_LINKS, _LP_N,
                                           _links,
                                           w_fuzzy_url_pairs,
                                           w_link_pagerank)


def test_every_planted_anchor_extracted(spark):
    """The extraction regex must recover exactly _LP_LINKS anchors per page
    (completeness: a missed anchor silently biases the whole graph)."""
    lk = _links(spark, SF_DIR)
    per_page = lk.groupBy("u", "href").count()  # noqa: F841 (shape probe)
    n = lk.count()
    assert n == _LP_N * _LP_LINKS
    # every href/term is well-formed (host parsed, term in vocab-like shape)
    assert lk.filter(F.col("v").isNull() | (F.col("term") == "")).count() == 0


def test_hub_hosts_outrank_the_rest(spark):
    """~25% of links target pages 0..3 (hosts hub00..hub03); their PageRank
    must exceed every non-hub host's (the planted skew must surface)."""
    pr = w_link_pagerank(spark, SF_DIR).collect()
    hubs = {f"hub{h:02d}.example.net" for h in range(_LP_HUBS)}
    hub_min = min(r.rank for r in pr if r.host in hubs)
    rest_max = max(r.rank for r in pr if r.host not in hubs)
    assert hub_min > rest_max


def test_pagerank_partitioning_invariance(spark):
    """Integer micro-unit ranks must be bit-identical under a different
    edge partitioning (the protocol's whole point)."""
    from co_new_spark.queries.geo_graph import pagerank_int

    ed = (_links(spark, SF_DIR).filter(F.col("u") != F.col("v"))
          .select("u", "v").distinct())
    nodes = (ed.select(F.col("u").alias("cell"))
               .union(ed.select(F.col("v").alias("cell"))).distinct())
    a = {(r.cell, r.rank) for r in pagerank_int(nodes, ed).collect()}
    b = {(r.cell, r.rank)
         for r in pagerank_int(nodes.repartition(7), ed.repartition(5))
         .collect()}
    assert a == b


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_ground_truth(spark):
    """Every emitted pair: same host, canonical order, dist == python DP
    on the paths; and the length-band candidate filter loses nothing
    (|len diff| <= dist always)."""
    rows = w_fuzzy_url_pairs(spark, SF_DIR).collect()
    assert rows, "fixture must yield some near-duplicate paths"
    for r in rows[:200]:
        assert r.url_a < r.url_b
        pa = r.url_a.split(".co", 1)[1]
        pb = r.url_b.split(".co", 1)[1]
        assert r.url_a.split("/page")[0] == r.url_b.split("/page")[0]
        assert r.dist == _lev(pa, pb) and r.dist <= 2


def test_postings_ground_truth(spark):
    """tf and first_pos of returned postings must match a python scan of
    the very same document text."""
    out = t_inverted_postings(spark, SF_DIR)
    sample = out.limit(25).collect()
    doc_ids = [r.doc_id for r in sample]
    from co_new_spark.sources.tables import load

    texts = dict(load(spark, SF_DIR, "documents")
                 .filter(F.col("doc_id").isin(doc_ids))
                 .select("doc_id", "text").collect())
    for r in sample:
        toks = texts[r.doc_id].split(" ")
        assert r.tf == toks.count(r.term)
        assert r.first_pos == toks.index(r.term) + 1


def test_stratified_exact_quota(spark):
    """Per-stratum output size == min(quota, stratum size); repeat run
    selects the identical doc set (determinism)."""
    from co_new_spark.sources.tables import load

    out = t_stratified_sample(spark, SF_DIR)
    got = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    want = {r.lang: min(_SS_QUOTA, r.n) for r in
            load(spark, SF_DIR, "documents").groupBy("lang")
            .agg(F.count("*").alias("n")).collect()}
    assert got == want
    a = {(r.lang, r.doc_id) for r in out.collect()}
    b = {(r.lang, r.doc_id) for r in t_stratified_sample(spark, SF_DIR).collect()}
    assert a == b


def _py_hits(nodes, edges, t=2):
    a = dict.fromkeys(nodes, 0)
    h = dict.fromkeys(nodes, 1)
    for _ in range(t):
        a = dict.fromkeys(nodes, 0)
        for u, v in edges:
            a[v] += h[u]
        h = dict.fromkeys(nodes, 0)
        for u, v in edges:
            h[u] += a[v]
    return a, h


def test_hits_matches_python_reference(spark):
    """Entry-level parity on the real fixture graph against a pure-python
    mirror of the unnormalized T-round protocol."""
    from pyspark.sql import functions as F2

    from co_new_spark.queries.webgraph import _HITS_T, w_hits_scores

    ed = (_links(spark, SF_DIR).filter(F2.col("u") != F2.col("v"))
          .select("u", "v").distinct().collect())
    edges = [(r.u, r.v) for r in ed]
    nodes = {x for e in edges for x in e}
    a, h = _py_hits(nodes, edges, _HITS_T)
    got = {r.host: (r.auth, r.hub) for r in w_hits_scores(spark, SF_DIR).collect()}
    assert got == {n: (a[n], h[n]) for n in nodes}
    # the planted hot targets must surface near the top: edge dedup erodes
    # (but must not erase) the raw-link-count advantage, so all 4 planted
    # hosts rank within the top 8 authorities
    top_auth = sorted(got, key=lambda n: (-got[n][0], n))[:8]
    assert {f"hub{i:02d}.example.net" for i in range(4)} <= set(top_auth)


def test_url_templates_cover_all_urls_with_no_digits(spark):
    from pyspark.sql import functions as F2

    from co_new_spark.queries.webgraph import w_url_templates

    out = w_url_templates(spark, SF_DIR)
    rows = out.collect()
    assert all("#" in r.template and not any(c.isdigit() for c in r.template)
               for r in rows)
    total = sum(r.n_urls for r in rows)
    import co_new_spark.queries.webtext_q as wq
    n_urls = (spark.read.parquet(wq.FIXTURE_PAGES)
              .select("url").distinct().count())
    assert total == n_urls
