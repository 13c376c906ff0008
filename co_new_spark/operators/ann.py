"""IVF-style approximate nearest neighbor over embedding columns.

The scale path for similarity search (SURVEY.md training ops): partition the
vector space by a small set of centroids (inverted file), assign every
candidate to its nearest centroid (one Arrow crossing, numpy matmul per
batch), and answer queries by probing only the ``nprobe`` nearest centroid
buckets — a hash equi-join on centroid_id instead of a cross join — then
exact-cosine re-rank inside the probed buckets.

Centroid selection is DETERMINISTIC (a hash-stratified min-wise sample —
uniform over the corpus, uncorrelated with ingest order): no k-means
iterations, no RNG — recall is gated against brute force in tests.  At 100 TB
the centroid set stays driver-sized (|C| ~ sqrt(N) capped) and broadcasts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def _cosine(a, b):
    """Cosine similarity of two array<float> columns, computed in float64
    (DuckDB twin: ``queries.training.sql_cosine``)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def cosine_topk(pairs: DataFrame, k: int, cid: str = "cid",
                rank: str = "rn") -> DataFrame:
    """THE cosine top-k: (qid, ``cid``, qv, cv) pairs -> (qid, ``cid``,
    sim, ``rank``) for the ``k`` best candidates per qid, sim = the cosine
    rounded to 6 places, ties broken by ``cid`` (DuckDB twin:
    ``queries.training.sql_cosine_topk``)."""
    scored = pairs.select(
        "qid", cid, F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("sim"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col(cid))
    return (scored.withColumn(rank, F.row_number().over(w))
            .filter(F.col(rank) <= k).select("qid", cid, "sim", rank))


def bucket_topk(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Bucketed ANN re-rank: candidates (cid, cv, bucket) meet the
    broadcast queries (qid, qv, bucket) on the bucket, then ``cosine_topk``."""
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("qid") != F.col("cid"))
    return cosine_topk(pairs, k)


def _norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def deterministic_centroids(emb: DataFrame, n_centroids: int,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> np.ndarray:
    """(<= n_centroids, dim) unit-norm centroid matrix via a hash-stratified
    deterministic sample: stratum = xxhash64(id) mod n, winner per stratum =
    min (xxhash64(id, 1), id, vec) — i.e. one uniform min-wise sample per
    hash stratum.  RNG-free and partition-invariant like the previous
    lowest-id pick, but UNCORRELATED with ingest order (round-3 VERDICT ask
    #5: ids usually correlate with content, so lowest-id centroids covered
    one region).  ONE map-side-combined aggregate — no sort, no window."""
    sel = (emb.groupBy(F.pmod(F.xxhash64(F.col(id_col)),
                              F.lit(n_centroids)).alias("stratum"))
           .agg(F.min(F.struct(F.xxhash64(F.col(id_col), F.lit(1)).alias("h"),
                               F.col(id_col).alias("i"),
                               F.col(vec_col).alias("v"))).alias("m"))
           .orderBy("stratum")
           .select(F.col("m.v").alias("v")))
    rows = sel.toPandas()["v"].tolist()
    return _norm_rows(np.asarray(rows, dtype=np.float64))


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """pandas UDF: embedding -> array of the nprobe nearest centroid ids."""
    cmat = _norm_rows(np.asarray(centroids, dtype=np.float64)).T.copy()

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vec: pd.Series) -> pd.Series:
        m = _norm_rows(np.asarray(vec.tolist(), dtype=np.float64))
        sims = m @ cmat  # (batch, n_centroids) — one BLAS call per Arrow batch
        if nprobe == 1:
            top = sims.argmax(axis=1)[:, None]
        else:
            top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return assign


def ivf_knn(emb: DataFrame, k: int = 5, n_query: int = 20,
            n_centroids: int = 16, nprobe: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            mat_prefix: str | None = None) -> DataFrame:
    """Self-kNN: top-k cosine neighbors per query vector via IVF probing.

    Candidates index into 1 bucket; queries probe ``nprobe`` buckets; the
    join is a broadcast hash join on centroid_id; exact cosine re-ranks.

    ``mat_prefix`` materializes the bucket-assigned candidate/query tables
    (mat.py protocol) so a DuckDB oracle can re-derive the probe join,
    cosine scoring and ranking from the same bytes; centroid assignment
    itself stays gated by the recall pytest.
    """
    centroids = deterministic_centroids(emb, n_centroids, id_col, vec_col)
    c = emb.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"),
        F.element_at(ivf_assign_udf(centroids, 1)(F.col(vec_col)), 1).alias("bucket"))
    q = emb.filter(F.col(id_col) < n_query).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"),
        F.explode(ivf_assign_udf(centroids, nprobe)(F.col(vec_col))).alias("bucket"))
    if mat_prefix is not None:
        from ..queries.mat import materialize
        c = materialize(c, f"{mat_prefix}_c")
        q = materialize(q, f"{mat_prefix}_q")
    return bucket_topk(c, q, k)
