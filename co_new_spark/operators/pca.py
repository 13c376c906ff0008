"""Dominant principal direction of an embedding column via power
iteration, integer-exact across engines and partitionings.

Public method (von Mises & Pollaczek-Geiringer 1929 power iteration;
the curation use is Mu & Viswanath 2018 "All-but-the-Top": the dominant
direction of a web-scale embedding space is a corpus-level nuisance
component worth measuring/removing before similarity work).

Cross-engine exactness, same recipe as operators/kmeans.py:

* vectors quantize ONCE to integer micro-units; the per-dimension mean is
  a floor division; centering is exact int64 subtraction.
* the D x D scatter matrix S[a,b] = sum_i c_i[a]*c_i[b] is an exact
  integer sum — the ONE fact-sized aggregation (posexplode of the per-row
  outer product, map-side combined; only D^2 longs cross the wire per
  partition).  Headroom: |c| <= ~1e6 micro-units -> per-row product <=
  1e12, and the TOTAL sum must fit int64: N * 1e12 <= 9.2e18 -> N <= ~9e6
  vectors at micro-unit quantization.  Larger corpora quantize coarser
  (milli-units -> N <= ~9e12): the quantization scale is the caller's
  corpus-size knob — int64 overflow wraps silently, so sizing it is part
  of the documented contract, exactly like kmeans' magnitude-headroom
  note.
* S is then normalized to micro-units of its max |entry| (direction is
  scale-free), so every matvec stays far inside int64; the iterate is
  re-normalized to max |v| = 1e6 each round.  All divisions are
  floor(CAST-to-double ...) with IDENTICAL operand order in both engines —
  bit-identical even where the double is inexact.
* T rounds are UNROLLED on D- and D^2-row frames (model-sized: no driver
  loops over data, no convergence probes — the kmeans/pagerank precedent).
  Start vector is all-ones (deterministic, sign-fixing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def center(vecs: DataFrame, vec_col: str = "q") -> DataFrame:
    """Subtract the per-dimension floor-mean: (id, q) -> (id, c)."""
    mu = (vecs.select(F.posexplode(vec_col).alias("pos", "v"))
              .groupBy("pos")
              .agg(F.floor(F.sum("v") / F.count("*")).cast("long").alias("m")))
    mul = mu.agg(F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "m"))),
        lambda x: x["m"]).alias("mu"))
    return (vecs.crossJoin(F.broadcast(mul))
                .withColumn("c", F.zip_with(vec_col, "mu",
                                            lambda a, b: a - b)))


def scatter(cvecs: DataFrame, dim: int, vec_col: str = "c") -> DataFrame:
    """(id, c) -> (pa, pb, s): the exact integer scatter matrix, D^2 rows.
    The posexplode+groupBy is map-side combined — the only fact exchange."""
    outer = F.flatten(F.transform(
        F.col(vec_col),
        lambda x: F.transform(F.col(vec_col), lambda y: x * y)))
    return (cvecs.select(F.posexplode(outer).alias("k", "v"))
                 .groupBy("k").agg(F.sum("v").alias("s"))
                 .select((F.col("k") / dim).cast("int").alias("pa"),
                         (F.col("k") % dim).cast("int").alias("pb"), "s"))


def _renorm(df: DataFrame, col: str) -> DataFrame:
    """Rescale a (pos, col) frame to max |col| = SCALE (floor, via double —
    identical op order to the SQL oracle)."""
    m = df.agg(F.max(F.abs(F.col(col))).alias("mx"))
    return (df.crossJoin(F.broadcast(m))
              .withColumn(col, F.floor(F.col(col).cast("double") * SCALE
                                       / F.col("mx")).cast("long"))
              .drop("mx"))


def top_direction(vecs: DataFrame, dim: int, rounds: int,
                  vec_col: str = "q") -> DataFrame:
    """(id, q) -> (pos, v): the dominant scatter-matrix direction after
    ``rounds`` unrolled power-iteration steps, micro-unit normalized."""
    spark = vecs.sparkSession
    s = scatter(center(vecs, vec_col), dim)
    sn = (_renorm(s.withColumnRenamed("s", "val"), "val")
          .select("pa", "pb", "val").localCheckpoint(eager=True))
    v = spark.range(dim).select(F.col("id").cast("int").alias("pos"),
                                F.lit(SCALE).cast("long").alias("v"))
    for _ in range(rounds):
        w = (sn.join(v, sn.pb == v.pos)
               .groupBy(F.col("pa").alias("pos"))
               .agg(F.sum(F.col("val") * F.col("v")).alias("v")))
        v = _renorm(w, "v").localCheckpoint(eager=True)
    return v.orderBy("pos")
