"""Physical-layout relational operators: bucketed co-located joins.

Why it exists: README design rule #2 and SURVEY.md §4 name bucketing as THE
strategy for repeated big-big equi-joins at 100 TB — pre-shuffle both fact
tables into the same bucket layout ONCE (paid at write time), then every
subsequent join on the bucket key reads co-located buckets and skips the
exchange entirely.  The strategy was plan-gated in tests
(tests/test_plan_shapes.py::test_bucketed_join_avoids_shuffle) but had no
registry entry, so the driver never exercised it end-to-end; this module
makes it a first-class, oracle-checked operator.

Scale design: at 10^12 rows the layout write is one full shuffle each for
lineitem and orders — the same cost ONE ordinary join would pay — after
which every join in the workload that keys on orderkey is exchange-free
(bucket-pruned scans, bucket-local SMJ).  Locally the entry performs the
whole cycle: write both sides bucketed-by-key (8 buckets, sorted within
bucket), re-read through the catalog, join, aggregate.  The join sub-plan is
asserted exchange-free by the plan gate; the result is value-hash-checked
against the raw-parquet oracle (the bucketed write must be lossless — a
dropped/duplicated row breaks the hash).

Money sums use the registry's integer-cents protocol (round(x*100) BIGINT),
so the group sums are order-associative and bit-identical across engines
and partitionings.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .mat import run_tmp

_N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """Write lineitem/orders projections bucketed by their join key into
    pid-scoped external tables and return the catalog-backed frames.

    Idempotent per process: DROP TABLE + dir clear before each write (the
    external-table overwrite path refuses a non-empty pre-existing
    location on some catalog configurations; explicit drop is unambiguous).
    """
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"))
    od = load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    out = []
    for name, df, key in (("co_b_li", li, "l_orderkey"),
                          ("co_b_od", od, "o_orderkey")):
        path = run_tmp(os.path.join("bucketed", name))
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        (df.write.mode("overwrite").option("path", path)
           .bucketBy(_N_BUCKETS, key).sortBy(key).saveAsTable(name))
        out.append(spark.table(name))
    return out[0], out[1]


def q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority revenue via an exchange-free bucketed join (layout
    write -> catalog re-read -> bucket-local join -> aggregate)."""
    li_b, od_b = bucketed_tables(spark, sf)
    j = li_b.join(od_b, F.col("l_orderkey") == F.col("o_orderkey"))
    return (j.groupBy("o_orderpriority")
            .agg(F.sum("price_c").alias("revenue_cents"),
                 F.count("*").alias("n_items"))
            .orderBy("o_orderpriority"))


SQL_BUCKETED_JOIN = """
SELECT o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY 1
"""


def q_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame aggregates per user (B16's value-based
    frame variant — every other frame in the registry is ROWS-based).

    Why RANGE and not ROWS: a RANGE frame includes ALL peer rows with equal
    order value, so the result is deterministic under timestamp ties
    without an event_id tie-break in the ORDER BY — the tie-robust frame
    semantics production sessionization wants.  One shuffle on user_id;
    frames are computed in a single pass per partition.

    Exactness: the frame key is integer epoch seconds (unix_timestamp
    truncates; the oracle floors epoch() — the geo_resample lesson), and
    the summed measure is floor(value * 1024) — a power-of-two scale of the
    double column, exact in both engines."""
    from pyspark.sql import Window

    ev = (load(spark, sf, "events")
          .filter(F.col("user_id") < 40)
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").cast("long").alias("t"),
                  F.floor(F.col("value") * 1024).cast("long").alias("iv")))
    w = (Window.partitionBy("user_id").orderBy("t")
         .rangeBetween(-3600, Window.currentRow))
    return (ev.select("user_id", "event_id", "t",
                      F.count("*").over(w).alias("n_1h"),
                      F.sum("iv").over(w).alias("iv_1h"))
              .orderBy("user_id", "event_id"))


SQL_RANGE_FRAME = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 1024) AS BIGINT) AS iv
  FROM events WHERE user_id < 40
)
SELECT user_id, event_id, t,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(iv) OVER w AS BIGINT) AS iv_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY t
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


QUERIES = {
    "rel_bucketed_join": (q_bucketed_join, SQL_BUCKETED_JOIN),
    "rel_range_frame": (q_range_frame, SQL_RANGE_FRAME),
}
