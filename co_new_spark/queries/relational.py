"""Relational operator surface (SURVEY.md §2.B) with DuckDB oracle SQL.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Column names/aliases match the oracle exactly (driver hashes columns by name).
Aggregated doubles are rounded identically on both sides to absorb
summation-order differences between Spark partial aggregation and DuckDB.

Plan notes (the 100 TB story):
* FIXED-cardinality dims (nation, region, date spines) are explicit
  ``broadcast()`` — no shuffle of the fact side; SF-proportional sides
  (customer, supplier — billions of rows at 100 TB) are deliberately
  un-hinted so AQE sizes them: runtime broadcast at bench scale, hash
  join at scale;
* top-k uses sort+limit (TakeOrderedAndProject — no global sort);
* the interval join is expressed as a *prefix equi-join* on the Spark side
  (hash join, shuffle-free vs broadcast dim) while the oracle states the
  naive range predicate — proving the rewrite equivalence (§2.B8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources.tables import load

def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """B5/B12: filtered scan + hash aggregate (TPC-H Q1 shape)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(_revenue()), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                          AS sum_qty,
       round(sum(l_extendedprice), 2)                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
       count(*)                                           AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_topk_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """B6/B7/B17: broadcast dim join + agg + top-k (TakeOrderedAndProject)."""
    cust = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    li = load(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF (billions of rows at 100 TB) — AQE-sized,
        # not hinted: runtime broadcast at bench scale, hash join at scale
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SQL_TOPK = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_region_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """B15: multi-dim broadcast star join + ROLLUP re-aggregation."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is SF-proportional — AQE-sized (see q_topk_revenue);
        # nation/region are FIXED-cardinality dims, hinted
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.round(F.sum(_revenue()), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_ROLLUP = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """B10: left-semi — customers that placed at least one order."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


SQL_SEMI = """
SELECT c_mktsegment, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """B10: left-anti — customers with no orders."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


SQL_ANTI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_asof_latest(spark: SparkSession, sf: str) -> DataFrame:
    """B9: as-of / latest-version-per-key via ranking window (url-dedup shape)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


SQL_ASOF = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """B9b: true event-time AS-OF JOIN — each 'view' event picks up the value
    of the latest 'purchase' by the same user at or before its timestamp.

    Spark has no asof-join operator; the scalable rewrite is
    **union + forward-fill**: interleave both streams, one window
    partitioned by user ordered by (ts, kind) with ``last(value,
    ignorenulls)`` over the preceding frame.  ONE shuffle of each stream on
    user_id, no range/theta join, no per-key driver loop — at 100 TB this is
    the standard event-time enrichment shape (purchases sort before views on
    equal ts, matching the oracle's inclusive ``v.ts >= p.ts``).  Oracle:
    DuckDB's native ASOF LEFT JOIN.
    """
    ev = load(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"),
        F.lit(None).cast("double").alias("pv"))
    # NULL-valued purchases are dropped on BOTH engines (ignorenulls would
    # skip them while ASOF would match them); same-(user, ts) duplicate
    # purchases need NO pre-aggregation — the window's event_id ordering
    # already makes the max-event_id row the last non-null before the view,
    # which is exactly the oracle's arg_max tie-break.  Keeping this a plain
    # filter preserves the single-shuffle plan (a groupBy(user, ts) here
    # would shuffle on a superset key and force a second exchange — gated by
    # tests/test_plan_shapes.py).
    purch = (ev.filter((F.col("event_type") == "purchase")
                       & F.col("value").isNotNull())
               .select("user_id", "ts", "event_id", F.lit(0).alias("kind"),
                       F.col("value").alias("pv")))
    u = views.unionByName(purch)
    w = (Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    filled = u.withColumn("last_purchase",
                          F.round(F.last("pv", ignorenulls=True).over(w), 6))
    return (filled.filter(F.col("kind") == 1)
                  .select("event_id", "user_id", "last_purchase"))


SQL_ASOF_JOIN = """
SELECT v.event_id, v.user_id, round(p.value, 6) AS last_purchase
FROM (SELECT * FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id, ts
) p ON v.user_id = p.user_id AND v.ts >= p.ts
"""


SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """B16b: batch sessionization — split each user's event stream at
    >30-min gaps, one row per session (the batch twin of the streaming
    session-window entry; lag + running-sum over one user-partitioned
    window, no self-join)."""
    ev = load(spark, sf, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(wo)
    # interval arithmetic: TIMESTAMP_NTZ has no integer cast under ANSI
    gap_over = (F.col("ts") - prev) > F.expr(f"INTERVAL '{SESSION_GAP_S}' SECOND")
    new_s = F.when(prev.isNull() | gap_over, 1).otherwise(0)
    run = ev.withColumn("sid", F.sum(new_s).over(
        wo.rowsBetween(Window.unboundedPreceding, 0)))
    return (run.groupBy("user_id", "sid").agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"))
               .select("user_id", F.col("sid").cast("long").alias("sid"),
                       "session_start", "session_end", "n_events",
                       "total_value"))


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """B15b: PIVOT — daily event counts spread into one column per event
    type.  The pivot values are an EXPLICIT list (never inferred: inference
    costs an extra distinct scan and makes the output schema data-dependent,
    which breaks at 100 TB and in any schema registry)."""
    ev = load(spark, sf, "events")
    out = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
             .pivot("event_type", _PIVOT_TYPES).count())
    return out.select("day", *[F.coalesce(F.col(t), F.lit(0)).cast("long")
                               .alias(f"n_{t}") for t in _PIVOT_TYPES])


SQL_PIVOT = "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " + ", ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n_{t}" for t in _PIVOT_TYPES) + " FROM events GROUP BY 1"


_UNPIVOT_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """B15c: UNPIVOT/melt — the inverse of q_pivot: the four lineitem
    measures melted into (measure, value) rows, then summarized per
    (returnflag, measure).  Native ``DataFrame.unpivot`` (wide->long without
    explode-over-structs); the melt is a map-side projection — the only
    shuffle is the final small agg."""
    li = load(spark, sf, "lineitem")
    long = li.unpivot(["l_returnflag"], _UNPIVOT_MEASURES, "measure", "value")
    return (long.groupBy("l_returnflag", "measure")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 2).alias("total"))
                .orderBy("l_returnflag", "measure"))


SQL_UNPIVOT = "WITH long AS (" + " UNION ALL ".join(
    f"SELECT l_returnflag, '{m}' AS measure, CAST({m} AS DOUBLE) AS value"
    f" FROM lineitem" for m in _UNPIVOT_MEASURES) + """)
SELECT l_returnflag, measure, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total
FROM long GROUP BY l_returnflag, measure ORDER BY l_returnflag, measure
"""


def q_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """B20b: time-series gap fill — a dense (day x event_type) axis built
    with sequence+explode (no driver loop), left-joined against the daily
    counts so empty days materialize as zeros (what every monitoring /
    training-telemetry rollup needs before windowed smoothing)."""
    ev = load(spark, sf, "events")
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("lo"),
                    F.date_trunc("day", F.max("ts")).alias("hi"))
    days = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"))
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type") \
               .agg(F.count("*").alias("n"))
    return (days.crossJoin(types)
                .join(counts, ["day", "event_type"], "left")
                .select("day", "event_type",
                        F.coalesce("n", F.lit(0)).cast("long").alias("n")))


SQL_GAPFILL = """
WITH b AS (
  SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
  FROM events
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM days d CROSS JOIN types t
LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
"""


SQL_SESSIONIZE = f"""
SELECT user_id, CAST(sid AS BIGINT) AS sid,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM (
  SELECT user_id, ts, value,
         sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id, value,
           epoch(ts) - lag(epoch(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events)
) GROUP BY user_id, sid
"""


def q_window_topk(spark: SparkSession, sf: str) -> DataFrame:
    """B16: ranking window — top-3 orders per customer by price."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
"""


def q_jsonl_scan(spark: SparkSession, sf: str) -> DataFrame:
    """B1-family source breadth: JSON-lines, the interchange format crawl
    pipelines actually exchange (WARC-derived JSONL shards).  The events
    projection lands as a JSONL dataset (mat protocol side-write), is read
    back with an EXPLICIT schema — schema inference at 100 TB is a full
    extra pass over the files — and aggregated integer-exact.  The oracle
    re-reads the very same .json files with DuckDB's typed read_json."""
    from .mat import materialize_json

    ev = load(spark, sf, "events").select("event_id", "event_type", "value")
    return _event_type_stats(materialize_json(
        ev, "events_jsonl",
        "event_id BIGINT, event_type STRING, value DOUBLE"))


def _event_type_stats(ev: DataFrame) -> DataFrame:
    """The per-event-type aggregate the two format round trips check:
    (event_type, n_events, min_id, sum_cents), integer-exact."""
    return (ev.groupBy("event_type").agg(
                F.count("*").alias("n_events"),
                F.min("event_id").alias("min_id"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("sum_cents"))
             .orderBy("event_type"))


def _sql_event_type_stats(src: str) -> str:
    """The DuckDB twin of ``_event_type_stats`` over the table ``src``."""
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS min_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM {src}
GROUP BY event_type ORDER BY event_type
"""


def _sql_jsonl_scan() -> str:
    from .mat import mat_json_glob

    return _sql_event_type_stats(f"""read_json('{mat_json_glob("events_jsonl")}',
               format = 'newline_delimited',
               columns = {{event_id: 'BIGINT',
                           event_type: 'VARCHAR',
                           value: 'DOUBLE'}})""")


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """B1-family source breadth: ORC (the other columnar interchange format;
    Spark reads/writes it natively with pushdown like parquet).  The events
    projection lands as an ORC dataset, is read back, and aggregated — the
    oracle computes the SAME aggregate from the ORIGINAL parquet table, so a
    single row lost/mangled by the format round-trip breaks the hash
    (DuckDB cannot read ORC; content identity through the format is the
    checkable claim)."""
    from .mat import mat_path

    ev = load(spark, sf, "events").select("event_id", "event_type", "value")
    path = mat_path("events_orc")
    ev.write.mode("overwrite").orc(path)
    return _event_type_stats(spark.read.orc(path))


SQL_ORC_ROUNDTRIP = _sql_event_type_stats("events")


def q_salted_topk(spark: SparkSession, sf: str) -> DataFrame:
    """B16/skew: two-phase SALTED top-5 per event_type (north-rule "explicit
    salting": a window partitioned by a hot key puts the key's entire row set
    on one reducer — events has ~5 types over the whole table, the worst
    case).  Phase 1 ranks within (type, salt) so each hot key spreads over 16
    reducers; phase 2 ranks the surviving 5*16 rows per key.  Must be
    row-identical to the direct window (the oracle)."""
    from ..operators.salt import salted_topk

    ev = load(spark, sf, "events")
    top = salted_topk(ev, ["event_type"],
                      [F.col("value").desc(), F.col("event_id")], k=5)
    return top.select("event_type", "event_id", "value", "rn")


SQL_SALTED_TOPK = """
SELECT event_type, event_id, value, rn FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn <= 5
"""


def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """B16: frame window — 10-event moving average per user.

    ``value`` is fixed to 3 decimals as an integer before the window so the
    sliding sum is exact integer arithmetic on both engines (Spark's sliding
    aggregate is incremental; a float sum would drift vs DuckDB's).
    """
    ev = load(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-9, Window.currentRow))
    v = F.round(F.col("value") * 1000, 0).cast("long")
    # moving average in 1e-7 value units: exact int sum, one IEEE division,
    # floor — bit-identical on any engine (no decimal-rounding boundary)
    mavg = F.floor((F.sum(v).over(w) * 10000) / F.count("*").over(w))
    return ev.select("user_id", "event_id", mavg.alias("mavg_e7"))


SQL_MOVING = """
SELECT user_id, event_id,
       CAST(floor(sum(CAST(round(value * 1000, 0) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) * 10000
             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS BIGINT) AS mavg_e7
FROM events
"""


def q_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """B13: exact distinct aggregation per group."""
    ev = load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SQL_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """B23: JSON field extraction + bucketed aggregation."""
    ev = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k_bucket", F.pmod(k, F.lit(10)))
        .groupBy("k_bucket")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS cnt, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_date_trunc(spark: SparkSession, sf: str) -> DataFrame:
    """B20: time bucketing."""
    orders = load(spark, sf, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


SQL_DATE = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY 1
"""


def q_string_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """B19/B22: string split + explode + frequency count."""
    part = load(spark, sf, "part")
    return (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
    )


SQL_STRING = """
SELECT word, count(*) AS cnt FROM (
  SELECT unnest(string_split(lower(p_name), ' ')) AS word FROM part)
GROUP BY word
"""


def q_nation_segments(spark: SparkSession, sf: str) -> DataFrame:
    """B18/B22: set collection — sorted distinct segment list per nation."""
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segs"))
    )


SQL_SEGMENTS = """
SELECT n_name, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segs
FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name
"""


def q_interval_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """B8: interval-containment join, rewritten as a prefix equi-join.

    Oracle states the naive range predicate; the Spark plan uses the
    truncation rewrite (floor(key / width) = range_id) so it stays a
    broadcast *hash* join — the same rewrite the cell-cover join uses
    (cells are [lo, hi) ranges; truncation = cell_parent).
    """
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    joined = cust.join(
        F.broadcast(nation),
        F.floor(cust.c_custkey / 40).cast("int") == nation.n_nationkey,
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_cust"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


SQL_INTERVAL = """
SELECT n_name, count(*) AS n_cust, min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM customer JOIN nation
  ON c_custkey >= n_nationkey * 40 AND c_custkey < (n_nationkey + 1) * 40
GROUP BY n_name
"""


def q_set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """B18: INTERSECT of key sets."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    a = cust.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT") \
              .select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


SQL_INTERSECT = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q_set_except(spark: SparkSession, sf: str) -> DataFrame:
    """B18: EXCEPT of key sets."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    a = cust.select(F.col("c_custkey").alias("custkey"))
    b = orders.select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).distinct()


SQL_EXCEPT = """
SELECT DISTINCT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
"""


def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """B13: HLL++ approximate distinct, driver-oracle-checkable.

    HLL sketch values differ across engines, so the oracle-stable output is
    the exact count plus a deterministic accuracy bit: Spark's HLL++ estimate
    must land within 5% of the exact count (it is deterministic for a given
    input, so the bit is stable run-to-run).  The oracle emits TRUE — a
    hash-green row proves the HLL path ran AND was accurate.
    """
    ev = load(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_approx"),
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    ok = (F.abs(F.col("n_approx") - F.col("n_users"))
          <= 0.05 * F.col("n_users"))
    return agg.select("event_type", "n_users", "n_events",
                      ok.alias("approx_within_5pct"))


SQL_APPROX_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
"""



def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """B12/B16: exact interpolated percentiles per group (sort-based agg)."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("price_p90"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """B12/B16 scale path: approx_percentile (t-digest-style sketch, mergeable
    partial agg — no per-group sort) vs the exact holistic percentile.

    At 100 TB the exact sort-based percentile is a full per-group sort; this
    is the production variant.  Oracle-stable output: exact p50 plus a
    deterministic accuracy bit (Spark's approx_percentile with accuracy 10^4
    is deterministic for a given input); the oracle emits TRUE.
    """
    li = load(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("ap50"),
        F.expr("percentile(l_quantity, 0.5)").alias("ep50"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("ap90"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("ep90"),
    )
    ok50 = F.abs(F.col("ap50") - F.col("ep50")) <= 0.02 * (F.abs(F.col("ep50")) + 1.0)
    ok90 = F.abs(F.col("ap90") - F.col("ep90")) <= 0.02 * (F.abs(F.col("ep90")) + 1.0)
    return agg.select(
        "l_returnflag", F.round("ep50", 6).alias("p50_exact"),
        F.round("ep90", 6).alias("price_p90_exact"),
        ok50.alias("approx_p50_ok"), ok90.alias("approx_p90_ok"))


SQL_PERCENTILES_APPROX = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_exact,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90_exact,
       TRUE AS approx_p50_ok, TRUE AS approx_p90_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """B15: CUBE over two dims (all grouping-set combinations)."""
    ev = load(spark, sf, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    return ev.cube(day, "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))


SQL_CUBE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_v
FROM events GROUP BY CUBE (1, 2)
"""


def q_time_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal interval join, bucketized: which events fall inside each
    2-hour window anchored at every 97th event?

    The oracle states the naive range predicate (theta join).  The Spark
    plan is the SCALE path: each window explodes to its covered hour
    buckets (<= 3 rows), events carry their single hour bucket, and the
    join is a hash equi-join on the bucket followed by the exact range
    filter — the temporal twin of the cell-prefix rewrite (B8).  Works at
    any window/fact cardinality: cost is O(windows x buckets + events),
    never O(windows x events).

    Metrics stay integer-exact (value -> cents) so both engines hash
    identically regardless of float summation order.
    """
    ev = load(spark, sf, "events")
    anchors = (ev.filter(F.col("event_id") % 97 == 0)
                 .select(F.col("event_id").alias("anchor_id"),
                         F.col("ts").alias("t0"),
                         (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t1")))
    a = anchors.withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(F.unix_timestamp("t0") / 3600),
                             F.floor(F.unix_timestamp("t1") / 3600))))
    e = ev.select(
        "ts", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.floor(F.unix_timestamp("ts") / 3600).alias("bucket"))
    return (a.join(e, "bucket")
             .filter((F.col("ts") >= F.col("t0")) & (F.col("ts") < F.col("t1")))
             .groupBy("anchor_id")
             .agg(F.count("*").alias("n_events"),
                  F.countDistinct("user_id").alias("n_users"),
                  F.sum("cents").alias("sum_cents")))


SQL_TIME_INTERVAL_JOIN = """
WITH anchors AS (
  SELECT event_id AS anchor_id, ts AS t0, ts + INTERVAL 2 HOUR AS t1
  FROM events WHERE event_id % 97 = 0
)
SELECT anchor_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM anchors a JOIN events e ON e.ts >= a.t0 AND e.ts < a.t1
GROUP BY anchor_id
"""


def q_rank_family(spark: SparkSession, sf: str) -> DataFrame:
    """B16 completeness: the full ranking-function family — ntile quartiles,
    percent_rank, cume_dist — over a deterministic (value, key) order.
    percent_rank/cume_dist are exact rationals evaluated as one double
    division, so they hash identically across engines."""
    from pyspark.sql import Window as W

    o = load(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_RANK_FAMILY = """
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join completeness: per-nation customer counts vs supplier
    counts — nations with only one side present survive with a NULL count
    on the other (coalesced to 0 for a stable hash)."""
    c = (load(spark, sf, "customer").groupBy("c_nationkey")
         .agg(F.count("*").alias("n_cust"))
         .select(F.col("c_nationkey").alias("nk"), "n_cust"))
    s = (load(spark, sf, "supplier").groupBy("s_nationkey")
         .agg(F.count("*").alias("n_supp"))
         .select(F.col("s_nationkey").alias("nk"), "n_supp"))
    return (c.join(s, "nk", "full_outer")
             .select("nk",
                     F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
                     F.coalesce("n_supp", F.lit(0)).alias("n_supp")))


SQL_FULL_OUTER = """
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(c.nk, s.nk) AS nk,
       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """B15 completeness beyond rollup/cube: arbitrary GROUPING SETS with
    grouping_id() disambiguating the all-NULL group of each set."""
    c = load(spark, sf, "customer")
    c.createOrReplaceTempView("_gs_customer")
    return spark.sql("""
        SELECT c_mktsegment, c_nationkey % 5 AS nation_band,
               grouping(c_mktsegment) AS g_seg,
               grouping(c_nationkey % 5) AS g_band,
               count(*) AS n, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        FROM _gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey % 5), ())
    """)


SQL_GROUPING_SETS = """
SELECT c_mktsegment, c_nationkey % 5 AS nation_band,
       grouping(c_mktsegment) AS g_seg,
       grouping(c_nationkey % 5) AS g_band,
       count(*) AS n, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey % 5), ())
"""


_HIST_BINS = 20
_HIST_LO, _HIST_HI = 0.0, 20.0


def q_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Binned aggregation (histogram): 20 equal-width bins over events.value
    with an overflow bin — the dashboarding primitive.  One map-side-combined
    aggregate on a derived integer key; floor arithmetic is identical on both
    engines (value has 2 decimals, bin edges are exact halves)."""
    ev = load(spark, sf, "events")
    w = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bin_ = F.least(F.floor((F.col("value") - _HIST_LO) / w).cast("long"),
                   F.lit(_HIST_BINS))
    return (ev.filter(F.col("value").isNotNull())
              .groupBy(bin_.alias("bin"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents")))


SQL_VALUE_HISTOGRAM = f"""
SELECT least(CAST(floor((value - {_HIST_LO!r}) / {(_HIST_HI - _HIST_LO) / _HIST_BINS!r})
                  AS BIGINT), {_HIST_BINS}) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE value IS NOT NULL
GROUP BY 1
"""


def q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """B9b: SCD Type-2 dimension build (Kimball) — the events stream as a
    change log: per user, collapse consecutive repeats of event_type, then
    version the survivors with [effective_from, effective_to) validity and
    an is_current flag.  Both windows are PARTITIONED BY the dimension key
    (lag to detect change, lead/row_number to close intervals), so each
    key's history folds inside one reducer — the canonical merge-into-
    dimension shape at 100 TB, no self-join, no global sort."""
    ev = load(spark, sf, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (ev.withColumn("prev", F.lag("event_type").over(wo))
            .filter(F.col("prev").isNull()
                    | (F.col("prev") != F.col("event_type"))))
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ch.select(
                "user_id",
                F.col("event_type").alias("status"),
                F.col("ts").alias("effective_from"),
                F.lead("ts").over(wc).alias("effective_to"),
                F.row_number().over(wc).cast("long").alias("version"))
              .withColumn("is_current", F.col("effective_to").isNull())
              .orderBy("user_id", "version"))


SQL_SCD2 = """
WITH ch AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), keep AS (
  SELECT user_id, event_type, ts, event_id FROM ch
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       event_type AS status,
       ts AS effective_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS effective_to,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS version,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM keep ORDER BY user_id, version
"""


QUERIES = {
    "rel_percentiles": (q_percentiles, SQL_PERCENTILES),
    "rel_rank_family": (q_rank_family, SQL_RANK_FAMILY),
    "rel_full_outer_join": (q_full_outer, SQL_FULL_OUTER),
    "rel_grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "rel_value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "rel_time_interval_join": (q_time_interval_join, SQL_TIME_INTERVAL_JOIN),
    "rel_percentiles_approx": (q_percentiles_approx, SQL_PERCENTILES_APPROX),
    "rel_cube": (q_cube, SQL_CUBE),
    "rel_approx_distinct": (q_approx_distinct, SQL_APPROX_DISTINCT),
    "rel_pricing_summary": (q_pricing_summary, SQL_PRICING),
    "rel_topk_revenue": (q_topk_revenue, SQL_TOPK),
    "rel_region_rollup": (q_region_rollup, SQL_ROLLUP),
    "rel_semi_join": (q_semi_join, SQL_SEMI),
    "rel_anti_join": (q_anti_join, SQL_ANTI),
    "rel_asof_latest": (q_asof_latest, SQL_ASOF),
    "rel_window_topk": (q_window_topk, SQL_WINDOW_TOPK),
    "rel_salted_topk": (q_salted_topk, SQL_SALTED_TOPK),
    "rel_jsonl_scan": (q_jsonl_scan, _sql_jsonl_scan()),
    "rel_orc_roundtrip": (q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
    "rel_moving_avg": (q_moving_avg, SQL_MOVING),
    "rel_distinct_users": (q_distinct_users, SQL_DISTINCT),
    "rel_json_props": (q_json_props, SQL_JSON),
    "rel_date_trunc": (q_date_trunc, SQL_DATE),
    "rel_string_tokens": (q_string_tokens, SQL_STRING),
    "rel_nation_segments": (q_nation_segments, SQL_SEGMENTS),
    "rel_asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "rel_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "rel_gapfill": (q_gapfill, SQL_GAPFILL),
    "rel_pivot": (q_pivot, SQL_PIVOT),
    "rel_unpivot": (q_unpivot, SQL_UNPIVOT),
    "rel_interval_prefix_join": (q_interval_prefix_join, SQL_INTERVAL),
    "rel_set_intersect": (q_set_intersect, SQL_INTERSECT),
    "rel_set_except": (q_set_except, SQL_EXCEPT),
    "rel_scd2": (q_scd2, SQL_SCD2),
}
