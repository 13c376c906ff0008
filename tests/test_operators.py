"""Operator-level tests: cover join, kNN ring, MinHash recall, reference dims."""

import numpy as np
from pyspark.sql import functions as F

from co_new_spark.functions import geo
from co_new_spark.grid import cells as C
from co_new_spark.operators.knn import knn_ring
from co_new_spark.sources.reference_data import _cover_pdf, load_synonym
from conftest import needs_reference

SF = "/root/testdata/sf0.001"

# seat -> containing municipality (verified cover membership, SURVEY.md §1.3)
SEATS = [
    (-4.21528, -69.94056, "CO-AMA-Leticia"),
    (5.5353, -73.3678, "CO-BOY-Tunja"),
    (6.2442, -75.5812, "CO-ANT-Medellin"),
    (-0.6186, -72.3925, "CO-AMA-PuertoSantander"),
    (6.9096, -75.0772, "CO-ANT-Amalfi"),
]


@needs_reference("citycover.csv")
def test_pyds_partition_invariance(spark):
    """The custom Python data source must yield the SAME rows at any split
    count — the byte-range convention (skip the partial record at start,
    finish the record begun before end) parses every line exactly once."""
    from co_new_spark.sources.pyds import CityCoverDataSource

    spark.dataSource.register(CityCoverDataSource)

    def rows(n):
        df = (spark.read.format("citycover")
              .option("numPartitions", str(n)).load())
        return sorted(tuple(r) for r in df.collect())

    one = rows(1)
    assert len(one) == 14165 + 334  # cover + overlay tokens (NULL skipped)
    assert rows(8) == one
    assert rows(64) == one  # more ranges than bytes-per-line headroom


@needs_reference("citycover.csv")
def test_citycover_parse():
    pdf = _cover_pdf()
    assert pdf["isolabel_ext"].nunique() == 1116
    cov = pdf[pdf.kind == "cover"]
    assert len(cov) == 14165  # all parseable cells (the literal NULL token skipped)
    assert (pdf["cell"] >= 0).all()
    tunja = cov[cov.isolabel_ext == "CO-BOY-Tunja"]
    assert len(tunja) == 11  # 12 tokens incl. NULL on citycover.csv:325
    # covers occur at exactly 4 depths, 5 bits apart (one quad level + one half split)
    assert set(pdf["depth"].unique()) == {7, 12, 17, 22}


@needs_reference("citycover.csv")
def test_cover_lookup_seats(spark):
    """Each seat's municipality is among the labels of the cover cells that
    are a prefix of the seat's cell (brute-force scan on cells.contains)."""
    df = spark.createDataFrame(
        [(lat, lon, iso) for lat, lon, iso in SEATS], ["lat", "lon", "expected"]
    ).withColumn("cell", geo.encode_b_cell(F.col("lat"), F.col("lon"), 26))
    pdf = _cover_pdf()
    cov = pdf[pdf.kind == "cover"]
    cover_cells = cov["cell"].to_numpy(np.int64)
    got = {r.expected: set(cov["isolabel_ext"][C.contains(cover_cells, np.int64(r.cell))])
           for r in df.collect()}
    for _, _, iso in SEATS:
        assert iso in got[iso], (iso, got[iso])


@needs_reference("synonym.csv")
def test_synonym_dim(spark):
    syn = load_synonym(spark)
    assert syn.count() == 7660
    assert syn.filter(F.col("default_abbrev")).count() == 1116


def test_knn_ring_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    # dense cluster near Bogotá so ring-1 completeness holds
    lat = 4.7111 + rng.uniform(-0.05, 0.05, 800)
    lon = -74.0722 + rng.uniform(-0.05, 0.05, 800)
    from co_new_spark.grid import proj

    x, y = proj.forward(lat, lon)
    pts = spark.createDataFrame(
        [(int(i), float(xx), float(yy)) for i, (xx, yy) in enumerate(zip(x, y))],
        ["id", "x", "y"],
    ).withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 10))
    q = pts.filter(F.col("id") < 15).select(F.col("id").alias("qid"), "x", "y", "cell")
    c = pts.select(F.col("id").alias("cid"), "x", "y", "cell")
    got = knn_ring(q, c, k=5, ring=1, exclude_self=True).collect()
    # numpy brute force
    cell_side = 524288 / 32  # rbits=10 -> 5 splits/axis = 16384 m
    for qid in range(15):
        d = np.hypot(x - x[qid], y - y[qid])
        d[qid] = np.inf
        order = np.lexsort((np.arange(len(d)), d))[:5]
        mine = sorted([(r.rn, r.cid, r.dist) for r in got if r.qid == qid])
        if d[order[-1]] < cell_side:  # completeness guaranteed inside ring
            assert [m[1] for m in mine] == [int(i) for i in order], qid


def test_minhash_recall_vs_exact(spark):
    from co_new_spark.queries.training import (
        t_minhash_lsh_candidates,
        t_ngram_jaccard_pairs,
    )

    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in t_ngram_jaccard_pairs(spark, SF).collect()}
    cand = {(r.doc_a, r.doc_b) for r in t_minhash_lsh_candidates(spark, SF).collect()}
    high = {p for p, j in exact.items() if j >= 0.7}
    if high:
        recall = len(high & cand) / len(high)
        assert recall >= 0.9, (recall, len(high))
    # candidates should not be absurdly over-generated
    assert len(cand) < 5000


def test_simhash_recall_vs_brute(spark):
    """Round-3 VERDICT ask #4: the block-pair banding (8x8-bit blocks, all
    C(8,2)=28 pair keys) must reach every pair the hamming filter accepts —
    pigeonhole guarantees it (<= 6 diffs leave >= 2 intact blocks), so the
    gate is exact equality, with the bucket cap the only permitted loss
    (no fixture bucket reaches the cap)."""
    import itertools

    from co_new_spark.queries.training import (
        SIMHASH_MAX_HAMMING,
        simhash,
        t_simhash_candidates,
    )
    from co_new_spark.sources.tables import load

    sigs = {r.doc_id: r.simhash for r in simhash(load(spark, SF, "documents")).collect()}
    mask = (1 << 64) - 1
    truth = {(a, b) for a, b in itertools.combinations(sorted(sigs), 2)
             if bin((sigs[a] ^ sigs[b]) & mask).count("1") <= SIMHASH_MAX_HAMMING}
    cand = {(r.doc_a, r.doc_b) for r in t_simhash_candidates(spark, SF).collect()}
    assert truth, "fixture must contain near-dup pairs"
    assert cand == truth, (len(truth - cand), len(cand - truth))


def test_lsh_bucket_cap_preserves_recall(spark):
    """The (band, bh) bucket-size cap must not change fixture candidates:
    real near-dup buckets are small, so the capped and uncapped candidate
    sets are identical here — the cap only bounds degenerate-bucket blowup."""
    from pyspark.sql import functions as F

    from co_new_spark.queries import training as tr

    capped = {(r.doc_a, r.doc_b)
              for r in tr.t_minhash_lsh_candidates(spark, SF).collect()}
    # uncapped reference: rebuild the band explode without _cap_buckets
    docs = tr.load(spark, SF, "documents")
    sig = tr.minhash_signatures(docs)
    rpb = tr.MINHASH_K // tr.LSH_BANDS
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"mh{b * rpb + r}") for r in range(rpb)])
                 .alias("bh"))
        for b in range(tr.LSH_BANDS)])
    ex = sig.select("doc_id", F.explode(bands).alias("bb")) \
            .select("doc_id", F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh"))
    a, b = ex.alias("a"), ex.alias("b")
    uncapped = {(r.doc_a, r.doc_b) for r in (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b")).distinct().collect())}
    assert capped == uncapped
    # and the cap DOES drop pairs when a degenerate bucket exceeds it
    ex2 = ex.withColumn("bh", F.lit(0)).withColumn("band", F.lit(0))
    n_all = ex2.count()
    assert tr._cap_buckets(ex2, cap=n_all - 1).count() == 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {r.l0 for r in rows} <= set(range(-1, 16))
    total = sum(r.n_pages for r in rows)
    assert total > 3000
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25 and len(osql) >= 20


def test_knn_fallback_ring_completes_short_queries(spark):
    """Sparse candidates: ring-1 finds < k, the fallback ring completes them."""
    from co_new_spark.grid import proj as _proj
    import numpy as _np

    # query at Bogotá; candidates far away (~40-80 km: outside ring-1 at
    # depth 14 [16 km cells], inside ring-5)
    qlat, qlon = 4.7111, -74.0722
    lats = [qlat + 0.4, qlat + 0.5, qlat - 0.45, qlat + 0.6, qlat - 0.6]
    lons = [qlon + 0.4, qlon - 0.5, qlon + 0.5, qlon - 0.6, qlon + 0.6]
    x, y = _proj.forward(_np.array([qlat] + lats), _np.array([qlon] + lons))
    from co_new_spark.grid import grids as _grids, cells as _ncells
    bits, ok = _grids.grid_b_encode_xy(x, y, 10)
    cell = _ncells.pack(bits, _np.full(bits.shape, 14, dtype=_np.int64))
    assert ok.all()
    rows = [(int(i), float(xx), float(yy), int(cc))
            for i, (xx, yy, cc) in enumerate(zip(x, y, cell))]
    df = spark.createDataFrame(rows, ["id", "x", "y", "cell"])
    q = df.filter(F.col("id") == 0).select(F.col("id").alias("qid"), "x", "y", "cell")
    c = df.filter(F.col("id") > 0).select(F.col("id").alias("cid"), "x", "y", "cell")

    narrow = knn_ring(q, c, k=3, ring=1)
    assert narrow.count() < 3  # ring-1 misses the far candidates
    wide = knn_ring(q, c, k=3, ring=1, fallback_ring=6)
    got = wide.orderBy("rn").collect()
    assert len(got) == 3 and [r.rn for r in got] == [1, 2, 3]


def test_ivf_knn_recall_vs_brute(spark):
    from co_new_spark.operators.ann import ivf_knn
    from co_new_spark.queries.training import t_knn_cosine_brute

    sf = "/root/testdata/sf0.01"
    brute = t_knn_cosine_brute(spark, sf).collect()
    ivf = ivf_knn(spark.read.parquet(f"{sf}/embeddings.parquet"),
                  k=5, n_query=20, n_centroids=16, nprobe=6).collect()
    bset = {(r.qid, r.cid) for r in brute}
    iset = {(r.qid, r.cid) for r in ivf}
    recall = len(bset & iset) / len(bset)
    # nprobe=6/16 buckets, exact rerank inside; hash-stratified centroids
    # measure 0.66 here — gate just below so a selection regression trips it
    assert recall >= 0.6, recall
    assert all(r.rn <= 5 for r in ivf)


def test_cover_lookup_empty_dim_returns_empty(spark):
    from co_new_spark.operators.cover import cover_lookup_best

    pts = spark.range(5).select(F.col("id").alias("url"), (F.col("id") * 64 + 8).alias("cell"))
    empty = spark.createDataFrame([], "isolabel_ext string, kind string, cell long, depth long")
    out = cover_lookup_best(pts, empty, keep=["url", "cell"])
    assert out.count() == 0
    assert set(out.columns) == {"url", "cell", "isolabel_ext"}
