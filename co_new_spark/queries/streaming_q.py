"""Streaming query surface — bounded drains of the §2.C operators, oracle-checked.

Each entry streams the ``events`` parquet with Trigger.AvailableNow and
returns the drained sink as a batch DataFrame, so the driver can compare
against a plain-SQL restatement: tumbling windows == epoch-aligned
date_trunc; session windows == the lag/cumsum gap construction; streaming
dedup == first-row-per-key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .mat import run_tmp

from ..sources.tables import load
from ..streaming import pipeline as sp


def _append_mtime_ordered(src: str, batch_dfs) -> None:
    """Write each batch DataFrame as one parquet file under ``src`` with a
    STAMPED strictly-increasing mtime (os.utime), so a file stream with
    ``maxFilesPerTrigger=1`` replays the batches in order.  The file source
    orders by modification time; stamping replaces the former wall-clock
    sleeps between writes (round-4 verdict ask #6: the stream entries'
    sweep cost was dominated by fixed waits, not work)."""
    import time as _time

    seen: set[str] = set()
    t0 = _time.time() - 3600  # strictly past, so nothing looks 'future'
    for k, b in enumerate(batch_dfs):
        b.coalesce(1).write.mode("append").parquet(src)
        for root, _dirs, files in os.walk(src):
            for fn in files:
                p = os.path.join(root, fn)
                if p not in seen:
                    seen.add(p)
                    os.utime(p, (t0 + k, t0 + k))


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    # watermarks require TIMESTAMP (with tz); parquet carries TIMESTAMP_NTZ.
    # Session tz is UTC (plans.session), so the cast is value-preserving.
    return sp.parquet_stream(spark, f"{sf}/events.parquet") \
             .withColumn("ts", F.col("ts").cast("timestamp"))


def s_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events_stream(spark, sf)
    agg = sp.windowed_counts(ev, "ts", ["event_type"], window="1 hour")
    out = sp.run_available_now(agg, "complete", state_partitions=4)
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n")


SQL_WINDOW_COUNTS = """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


def s_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events_stream(spark, sf)
    agg = sp.session_windows(ev, "ts", ["user_id"], gap="5 minutes")
    out = sp.run_available_now(agg, "complete", state_partitions=4)
    return out.select("user_id", F.col("win.start").alias("session_start"), "n")


SQL_SESSION_WINDOWS = """
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grp AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM marks)
SELECT user_id, min(ts) AS session_start, count(*) AS n
FROM grp GROUP BY user_id, sess
"""


def s_dedup_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup by (user_id, event_type), then a batch rollup."""
    ev = _events_stream(spark, sf)
    ded = sp.dedup_stream(ev, ["user_id", "event_type"], "ts")
    sink = sp.run_available_now(ded, "append", state_partitions=4)
    return sink.groupBy("event_type").agg(F.count("*").alias("n_pairs"))


SQL_DEDUP_COUNTS = """
SELECT event_type, count(*) AS n_pairs
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


def s_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream x broadcast static dim (customer) — map-side, stateless."""
    ev = _events_stream(spark, sf)
    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    joined = sp.stream_static_join(ev, cust, "user_id")
    sink = sp.run_available_now(joined, "append")
    return sink.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_STATIC_JOIN = """
SELECT c_mktsegment, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def s_stateful_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) drained to its final
    state: per-event-type running totals + last-seen timestamp carried in
    GroupState across micro-batches.  The sink holds one UPDATE row per key
    per batch; the final state is the max per key — which the oracle can
    state as a plain aggregate over the whole input."""
    ev = _events_stream(spark, sf)
    st = sp.stateful_running_counts(ev, "event_type", "ts")
    sink = sp.run_available_now(st, "update", state_partitions=4)
    return sink.groupBy("event_type").agg(
        F.max("n_total").alias("n_total"),
        F.max("last_ts_us").alias("last_ts_us"))


SQL_STATEFUL_COUNTS = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
       max(epoch_us(ts)) AS last_ts_us
FROM events GROUP BY event_type
"""


def s_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition — the one
    §2.C surface beyond C7: clicks x views per user within 6 hours, both
    sides watermarked (1 h) so the join state is GC-able.  Inner joins emit
    on match, so the AvailableNow drain yields exactly the batch-join rows;
    the per-user rollup happens on the drained sink.  At scale the join
    shuffles both streams on user_id once and keeps only a 7-hour state
    window per key."""
    clicks = (_events_stream(spark, sf)
              .filter(F.col("event_type") == "click")
              .withWatermark("ts", "1 hour")
              .select("user_id", F.col("ts").alias("ts_c")))
    views = (_events_stream(spark, sf)
             .filter(F.col("event_type") == "view")
             .withWatermark("ts", "1 hour")
             .select(F.col("user_id").alias("user_v"), F.col("ts").alias("ts_v")))
    j = clicks.join(
        views,
        (F.col("user_id") == F.col("user_v"))
        & (F.col("ts_v") >= F.col("ts_c"))
        & (F.col("ts_v") <= F.col("ts_c") + F.expr("INTERVAL 6 HOURS")))
    sink = sp.run_available_now(
        j.select("user_id", "ts_c", "ts_v"), "append", state_partitions=4)
    return sink.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.max(F.unix_micros("ts_v") - F.unix_micros("ts_c")).alias("max_lag_us"))


SQL_STREAM_STREAM_JOIN = """
SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       max(epoch_us(b.ts) - epoch_us(a.ts)) AS max_lag_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
GROUP BY a.user_id
"""


def s_late_data(spark: SparkSession, sf: str) -> DataFrame:
    """C6 late-data handling, oracle-backed (upgraded from the loose pytest
    bound): three mtime-ordered micro-batches (maxFilesPerTrigger=1),
    append mode, over a timeline engineered to be INSENSITIVE to watermark
    propagation lag (measured: the drop filter applies the watermark one
    batch later than the progress log reports, and complete mode never
    drops at all):

    * every batch-3 row's window end lies OUTSIDE the candidate filter band
      [wm after batch 1 = 14:10, wm after batch 2 = 15:10]: 05:10
      (end 06:00, far below — MUST be dropped) and 18:40 (end 19:00, far
      above — must be kept, and advances the final watermark);
    * the final eviction threshold (global max 18:40 − 1 h = 17:40) falls
      strictly between window ends, so the append-mode emission set
      (ends 13:00..17:00) is boundary-free.

    The oracle re-derives drop + emission from the materialized batch table
    with the tighter watermark."""
    import datetime as _dt
    import shutil

    from .mat import materialize

    base = _dt.datetime(2025, 5, 1, 12, 10, 0)

    def _at(minutes: float) -> _dt.datetime:
        return base + _dt.timedelta(minutes=minutes)

    batches = [
        [(1, _at(0)), (2, _at(60)), (3, _at(120)), (4, _at(180))],
        [(5, _at(240))],                 # 16:10 — advances the watermark
        [(6, _at(-420)), (7, _at(390))],  # 05:10 drop; 18:40 keep (new max)
    ]
    src = run_tmp("co_stream_late_src")
    shutil.rmtree(src, ignore_errors=True)
    bdfs = [spark.createDataFrame(rows, "uid long, ts timestamp")
            for rows in batches]
    _append_mtime_ordered(src, bdfs)
    tagged = None
    for k, b in enumerate(bdfs, start=1):
        t = b.withColumn("batch", F.lit(k))
        tagged = t if tagged is None else tagged.unionByName(t)
    materialize(tagged, "late_batches", key=sf)

    schema = spark.read.parquet(src).schema
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = (ev.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("win"))
           .agg(F.count("*").alias("n")))
    sink = sp.run_available_now(agg, "append", state_partitions=4)
    return (sink.select(F.col("win.start").alias("window_start"), "n")
                .orderBy("window_start"))


def _sql_late_data() -> str:
    from .mat import mat_glob

    return f"""
WITH b AS (SELECT * FROM read_parquet('{mat_glob("late_batches")}')),
wm2 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM b WHERE batch <= 2),
kept AS (
  SELECT ts FROM b WHERE batch <= 2
  UNION ALL
  SELECT ts FROM b WHERE batch = 3
   AND date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm2)
),
wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM kept)
SELECT window_start, n FROM (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         CAST(count(*) AS BIGINT) AS n
  FROM kept GROUP BY 1)
WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
ORDER BY window_start
"""


def s_cdc_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming MERGE (CDC upsert), oracle-backed: a seeded store (initial
    snapshot commit) plus two mtime-ordered CDC micro-batches with
    overlapping keys draining through foreachBatch + upsert_latest; the
    final store must hold exactly the latest version per key, which the
    DuckDB oracle re-derives from the materialized seed+update stream
    (latest ts per uid).  Timestamps are constants, strictly increasing per
    key across generations, so the winner set is tie-free; n_commits = 3
    gates one snapshot per seed/batch."""
    import datetime as _dt
    import shutil

    from ..plans import lineage
    from .mat import materialize

    base0 = _dt.datetime(2025, 6, 1, 0, 0, 0)

    def _at(minutes: int) -> _dt.datetime:
        return base0 + _dt.timedelta(minutes=minutes)

    seed = [(k, _at(k), f"v0-{k}", k % 4) for k in range(40)]
    batches = [
        [(k, _at(100 + k), f"v1-{k}", k % 4) for k in range(0, 40, 2)],
        [(k, _at(200 + k), f"v2-{k}", k % 4) for k in range(0, 40, 3)]
        + [(k, _at(300 + k), f"new-{k}", k % 4) for k in range(40, 50)],
    ]
    src = run_tmp("co_stream_cdc_src")
    base = run_tmp("co_stream_cdc_ledger")
    ck = run_tmp("co_stream_cdc_ck")
    for d in (src, base, ck):
        shutil.rmtree(d, ignore_errors=True)
    sdf = spark.createDataFrame(seed, "uid long, ts timestamp, val string, b long")
    # coalesce(1): the seed commit writes 4 bucket files instead of
    # n_partitions x 4 — the committer/readback cost, not the 40 rows,
    # dominates this entry's wall time at test scale
    lineage.resumable_write(sdf.coalesce(1), base, "b")  # CDC merge target
    bdfs = [spark.createDataFrame(rows, "uid long, ts timestamp, val string, b long")
            for rows in batches]
    _append_mtime_ordered(src, bdfs)
    tagged = sdf.withColumn("batch", F.lit(0))
    for i, b in enumerate(bdfs, start=1):
        tagged = tagged.unionByName(b.withColumn("batch", F.lit(i)))
    materialize(tagged, "cdc_updates", key=sf)

    schema = spark.read.parquet(src).schema
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src))
    sp.stream_upsert_to_ledger(ev, base, key="uid", ts_col="ts",
                               bucket_col="b", checkpoint=ck)
    n_commits = lineage.snapshots(spark, base).count()
    return (lineage.dataset(spark, base, "b")
            .select("uid", "ts", "val", "b")
            .withColumn("n_commits", F.lit(n_commits).cast("long"))
            .orderBy("uid"))


def _sql_cdc_merge() -> str:
    from .mat import mat_glob

    return f"""
SELECT uid, ts, val, b, CAST(3 AS BIGINT) AS n_commits FROM (
  SELECT uid, ts, val, b,
         row_number() OVER (PARTITION BY uid
                            ORDER BY ts DESC, batch DESC) AS rn
  FROM read_parquet('{mat_glob("cdc_updates")}')
) WHERE rn = 1 ORDER BY uid
"""


def s_geo_cell_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Geo x streaming composition: the Arrow/pandas encode kernel runs
    INSIDE the streaming micro-batch — derive planar positions (the shared
    position_cols hash), assign the Grid B cell (rbits=4), then watermarked
    tumbling-window counts per cell.  Proves the vectorized-UDF path
    composes with Structured Streaming."""
    from ..functions import geo
    from .geospatial import position_cols

    ev = _events_stream(spark, sf)
    x, y = position_cols()
    pos = (ev.select("ts", x, y)
             .withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), 4))
             .filter(F.col("cell") >= 0))
    agg = sp.windowed_counts(pos, "ts", ["cell"], window="1 hour")
    out = sp.run_available_now(agg, "complete", state_partitions=4)
    return out.select(F.col("win.start").alias("window_start"), "cell", "n")


def _sql_geo_cell_counts() -> str:
    from .geospatial import _XENG, _YENG
    from .sql_grid import cells_cte

    src = f"SELECT ts, {_XENG} AS x, {_YENG} AS y FROM events"
    return f"""
WITH {cells_cte(src, 4, ['ts'])}
SELECT date_trunc('hour', ts) AS window_start, cell, count(*) AS n
FROM cells WHERE cell >= 0 GROUP BY 1, 2
"""


QUERIES = {
    "stream_window_counts": (s_window_counts, SQL_WINDOW_COUNTS),
    "stream_geo_cell_counts": (s_geo_cell_counts, _sql_geo_cell_counts()),
    "stream_stateful_counts": (s_stateful_counts, SQL_STATEFUL_COUNTS),
    "stream_session_windows": (s_session_windows, SQL_SESSION_WINDOWS),
    "stream_dedup_counts": (s_dedup_counts, SQL_DEDUP_COUNTS),
    "stream_static_join": (s_static_join, SQL_STATIC_JOIN),
    "stream_stream_join": (s_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "stream_late_data": (s_late_data, _sql_late_data()),
    "stream_cdc_merge": (s_cdc_merge, _sql_cdc_merge()),
}


def s_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming HLL register maintenance: approximate distinct users per
    event_type with sketch state that is O(types x 64) REGARDLESS of stream
    length — the canonical bounded-state streaming aggregate (an unbounded
    streaming countDistinct would grow state with every new key; the
    register max does not).  Hash/rank expressions are single-sourced with
    the batch sketch (webtext8.md5_h60 / rho_of_rest), and the oracle is
    the batch restatement over the same rows — the streaming-equals-batch
    check every sketch pipeline needs before trusting incremental state."""
    from .webtext8 import _HLL_M, md5_h60, rho_of_rest

    ev = _events_stream(spark, sf)
    key = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    st = (ev.select("event_type", md5_h60(key).alias("h"))
            .withColumn("rest", F.expr(f"h div {_HLL_M}"))
            .select("event_type",
                    F.pmod(F.col("h"), F.lit(_HLL_M)).alias("idx"),
                    rho_of_rest(F.col("rest")).alias("rho"))
            .groupBy("event_type", "idx")
            .agg(F.max("rho").alias("reg")))
    out = sp.run_available_now(st, "complete", state_partitions=4)
    return out.orderBy("event_type", "idx")


def _sql_hll_registers() -> str:
    from .webtext8 import _HLL_M, sql_h60, sql_rho

    return f"""
WITH hh AS (
  SELECT event_type,
         {sql_h60("concat('u', CAST(user_id AS VARCHAR))")} AS h
  FROM events
), rr AS (
  SELECT event_type, h % {_HLL_M} AS idx, h // {_HLL_M} AS rest FROM hh
), ro AS (
  SELECT event_type, idx, {sql_rho('rest')} AS rho
  FROM rr
)
SELECT event_type, idx, max(rho) AS reg
FROM ro GROUP BY event_type, idx
ORDER BY event_type, idx
"""


QUERIES["stream_hll_registers"] = (s_hll_registers, _sql_hll_registers())
