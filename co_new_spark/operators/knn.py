"""kNN via grid cell-ring expansion (A17 + B16/B17).

The north-star kNN path: instead of a cross join, each query point expands to
its grid cell + king-move ring cells (native once the ring array is computed;
the ring itself needs the L0 ji lookup, so it's one Arrow crossing per query
batch — queries are the SMALL side).  Candidates join by exact cell id (hash
join), then exact planar distance + ranking window keep the top k.

Completeness: a ring-r expansion finds all true neighbors within r*cell_side
of the query's cell; callers pick (depth, ring) so that the k-th neighbor is
expected well inside that radius.  Queries that end up with fewer than k
matches fall back to a wider ring (second pass over only those queries).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from ..functions import geo
from ..grid import cells as ncells


def ring_cells_udf(ring: int):
    """The ring-expansion UDF: cell -> array<cell> of its grid-valid ring
    neighbors, then itself."""
    def ring_cells(cell):
        rows = np.concatenate([ncells.neighbors_b(cell, ring=ring), cell[:, None]], axis=1)
        return [row[row >= 0] for row in rows]

    return geo.kernel_udf(ring_cells, ArrayType(LongType()))


def ring_cells_d2_udf(ring: int):
    """Ring expansion that keeps the lattice geometry: cell ->
    array<struct<cell, d2>> of GRID-VALID neighbors (self excluded), with
    d2 = dy² + dx² in lattice units — derived from neighbors_b's fixed
    (dy, dx) column order, so it stays correct at grid borders where
    off-grid columns are dropped."""
    d2s = [dy * dy + dx * dx for dy in range(-ring, ring + 1)
           for dx in range(-ring, ring + 1) if dy or dx]
    out_t = ArrayType(StructType([StructField("cell", LongType()),
                                  StructField("d2", IntegerType())]))

    def ring_cells_d2(cell):
        return [[(int(v), d2s[k]) for k, v in enumerate(row) if v >= 0]
                for row in ncells.neighbors_b(cell, ring=ring)]

    return geo.kernel_udf(ring_cells_d2, out_t)


def knn_ring(queries: DataFrame, candidates: DataFrame, k: int = 5,
             ring: int = 1, exclude_self: bool = False,
             fallback_ring: int | None = None) -> DataFrame:
    """queries(qid, x, y, cell) x candidates(cid, x, y, cell) -> top-k per qid.

    Both inputs carry a Grid B cell at the SAME (even) refinement depth.
    ``exclude_self`` drops qid == cid pairs (self-kNN over one table).

    ``fallback_ring``: queries that found fewer than k matches at ``ring``
    re-run ONCE at this wider ring (the completeness fallback of SURVEY.md
    §2.A17) — a second small broadcast pass over only the short queries,
    never a cross join.
    """
    first = _knn_pass(queries, candidates, k, ring, exclude_self)
    if fallback_ring is None:
        return first
    counts = first.groupBy("qid").agg(F.count("*").alias("__n"))
    full = first.join(
        F.broadcast(counts.filter(F.col("__n") >= k).select("qid")), "qid")
    short_q = queries.join(F.broadcast(counts), "qid", "left") \
                     .filter(F.coalesce(F.col("__n"), F.lit(0)) < k).drop("__n")
    second = _knn_pass(short_q, candidates, k, fallback_ring, exclude_self)
    return full.unionByName(second)


def _knn_pass(queries: DataFrame, candidates: DataFrame, k: int,
              ring: int, exclude_self: bool) -> DataFrame:
    q = queries.withColumn("__ring", F.explode(ring_cells_udf(ring)(F.col("cell")))) \
               .select(F.col("qid"), F.col("x").alias("qx"), F.col("y").alias("qy"),
                       F.col("__ring").alias("cell"))
    c = candidates.select("cid", F.col("x").alias("cx"), F.col("y").alias("cy"), "cell")
    pairs = c.join(F.broadcast(q), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    d2 = (F.col("qx") - F.col("cx")) ** 2 + (F.col("qy") - F.col("cy")) ** 2
    scored = pairs.select("qid", "cid", F.sqrt(d2).alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("cid"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "cid", F.round(F.col("dist"), 3).alias("dist"), "rn"))
