"""Distributed-runtime primitives, round 5f: two-pass exact heavy-hitter
n-grams (``train_heavy_ngrams``), a hand-built Bloom runtime-filter join
(``rel_bloom_join``), rendezvous-hash shard assignment with minimal-move
resize (``pipeline_shard_rendezvous``), and per-user grid dwell episodes
(``geo_staypoints``).

Why they exist:

* **Heavy hitters** (Misra & Gries 1982; Agarwal et al., "Mergeable
  Summaries", PODS 2012) is THE bounded-memory frequent-items pass a
  crawl-curation pipeline runs before boilerplate n-gram excision: exact
  ``groupBy(gram)`` at 100 TB shuffles every gram once (fine), but the
  *report* wants only grams above a corpus-relative frequency floor — the
  two-pass scheme (per-partition Misra-Gries candidate summaries, then an
  exact recount of the candidate superset only) never shuffles the gram
  stream at all: pass 1 is map-only (mapInPandas, bounded ``_HH_CAP``
  counters/partition), pass 2 is a broadcast semi-join + one map-side-
  combined count.  Output is EXACT (the superset guarantee: any gram with
  global count > N/(cap+1) survives pruning in at least one partition —
  averaging argument — and the recount removes false candidates), which is
  why the DuckDB oracle can be the plain GROUP BY/HAVING.
* **Bloom-filter join** is Spark's own runtime-filter strategy
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``; the underlying
  ``bloom_filter_agg``/``might_contain`` expressions are NOT registered for
  SQL/Python in 4.1, verified) re-built from public, registered primitives:
  the dim side folds its join keys into an m-bit filter as ``bit_or`` word
  masks (ONE map-side-combined agg over the dim — bounded ``m/64`` rows out),
  the filter ships to the fact scan as an array<long> literal, and the fact
  is pre-filtered by two native bit-test predicates BEFORE the join shuffle.
  At 100 TB this is the difference between shuffling every orders row and
  shuffling ~|matching|·(1+fp) rows.  False positives are culled by the real
  join, so the result equals the plain join (the oracle).
* **Rendezvous (HRW) hashing** (Thaler & Ravishankar 1998) is how a
  resumable pipeline assigns work to a CHANGING number of shards without
  reshuffling the world: doc -> argmax_s hash(doc, s).  Adding shard S
  moves exactly the docs whose new-shard weight wins — in expectation
  1/(S+1) of them — and every moved doc moves TO the new shard (no
  lateral churn; pytest-gated).  The hash is the cross-engine md5 protocol
  (first 15 hex digits as int64), so the oracle re-derives assignments
  from scratch; the op itself is pure map-side (a 9-element array argmax
  per row) + one bounded (old, new) matrix agg.
* **Stay-point / dwell episodes** (Li et al. 2008's stop detection,
  re-expressed on the grid): runs of consecutive same-cell events per user
  (gaps-and-islands — change flag, running sum, group), the trajectory
  primitive behind home-location inference and POI dwell time.  One window
  shuffle on user_id; episodes aggregate on the same partitioning.

Scale design notes:

* train_heavy_ngrams reads the gram stream twice (candidate pass +
  recount) — inherent to exact two-pass heavy hitters; both passes are
  map-side-only over the fact, and nothing fact-sized is ever shuffled,
  collected, or windowed.  The corpus gram total N rides the candidate
  pass output (a per-partition count row) and reaches the threshold
  comparison via a 1-row broadcast cross join, not a driver collect.
* rel_bloom_join's single ``.collect()`` is the filter itself — bounded
  m/64 = 1024 words by construction (the operators/cover.py
  dimension-collect rule); Spark's own runtime bloom does the same
  driver-side round trip.
* geo_staypoints drops grid-invalid points BEFORE sequencing (both
  engines agree on per-user order), mirroring geo_od_matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load
from .geospatial import _EVENT_XY, _XENG, _YENG, event_cells
from .sql_grid import cells_cte, morton_ref

# ---------------------------------------------------------------------------
# train_heavy_ngrams — exact heavy-hitter word trigrams, two-pass MG scheme
# ---------------------------------------------------------------------------

_HH_K = 5000      # report grams with count * K > N (frequency > 1/K)
_HH_CAP = _HH_K   # Misra-Gries counters per partition (cap >= K-1 required
                  # for the superset guarantee; see module docstring)


def _word_trigrams(docs: DataFrame) -> DataFrame:
    """One row per word trigram (single-space join, split-on-space words —
    the DSIR tokenization, queries/training2.py)."""
    a = F.split(F.col("text"), " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(a) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(a, i), F.element_at(a, i + 1),
            F.element_at(a, i + 2)))
    return docs.select(
        F.explode(F.when(F.size(a) >= 3, tri)
                  .otherwise(F.array().cast("array<string>"))).alias("tri"))


def _mg_candidates(batches):
    """Per-partition Misra-Gries summary over Arrow batches of ``hk``
    (xxhash64 of the gram — int64, so the summary never touches strings
    and the Arrow transfer is 8 bytes/gram; hashing only INFLATES counts,
    so the superset guarantee is preserved and the exact-text recount
    culls any collision passengers).

    Each batch is counted exactly (vectorized value_counts), merged into the
    running summary, then pruned to ``_HH_CAP`` counters by subtracting the
    (cap+1)-th largest count (the PODS'12 merge rule — keeps the additive
    error <= N_partition/(cap+1)).  Emits the surviving keys plus ONE
    sentinel row carrying the partition's gram count (so the global N needs
    no second pass)."""
    import numpy as np
    import pandas as pd

    summ: dict = {}
    total = 0
    for pdf in batches:
        total += len(pdf)
        ks, cs = np.unique(pdf["hk"].to_numpy(), return_counts=True)
        for k, c in zip(ks.tolist(), cs.tolist()):
            summ[k] = summ.get(k, 0) + c
        if len(summ) > _HH_CAP:
            sub = sorted(summ.values(), reverse=True)[_HH_CAP]
            summ = {t: c - sub for t, c in summ.items() if c > sub}
    yield pd.DataFrame({"hk": list(summ.keys()),
                        "n_part": [0] * len(summ)})
    yield pd.DataFrame({"hk": [0], "n_part": [total]})


def t_heavy_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    from .training import _spread

    # spread the compact doc rows across slots BEFORE the gram explosion —
    # a small parquet arrives as one split and would serialize both passes
    # (at 100 TB the input has >= slots splits and this is a no-op)
    docs = _spread(load(spark, sf, "documents"))
    grams = _word_trigrams(docs)
    mg = (grams.select(F.xxhash64("tri").alias("hk"))
               .mapInPandas(_mg_candidates, "hk long, n_part long"))
    cands = mg.filter(F.col("n_part") == 0).select("hk").distinct()
    n_total = mg.groupBy().agg(F.sum("n_part").alias("n_total"))
    counted = (grams.join(F.broadcast(cands),
                          F.xxhash64("tri") == F.col("hk"), "left_semi")
                    .groupBy("tri").agg(F.count("*").alias("n")))
    return (counted.crossJoin(F.broadcast(n_total))
                   .filter(F.col("n") * _HH_K > F.col("n_total"))
                   .select("tri", "n"))


SQL_HEAVY_NGRAMS = f"""
WITH d AS (SELECT string_split(text, ' ') AS a FROM documents),
g AS (
  SELECT a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS tri
  FROM d, unnest(generate_series(1, len(a) - 2)) s(i)
  WHERE len(a) >= 3
)
SELECT tri, CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY tri
HAVING count(*) * {_HH_K} > (SELECT count(*) FROM g)
"""


# ---------------------------------------------------------------------------
# rel_bloom_join — hand-built Bloom runtime filter ahead of the join shuffle
# ---------------------------------------------------------------------------

_BF_BITS = 1 << 16          # m: filter size in bits
_m64 = _BF_BITS // 64       # words in the array<long> representation
_BF_SEED2 = 0x9E3779B9      # second hash: xxhash64 with a distinct column
_BF_SEGMENT = "BUILDING"


def _bf_positions(key):
    """The two bit positions of ``key`` in the m-bit filter."""
    return (F.pmod(F.xxhash64(key), F.lit(_BF_BITS)),
            F.pmod(F.xxhash64(key, F.lit(_BF_SEED2)), F.lit(_BF_BITS)))


def bloom_build(keys: DataFrame, col: str) -> list:
    """Fold a key column into an m-bit Bloom filter: explode each key to its
    two bit positions, bit_or the per-word masks (map-side combined; at most
    ``_m64`` rows reach the driver), zero-fill to a dense word list."""
    p1, p2 = _bf_positions(F.col(col))
    words = (keys.select(F.explode(F.array(p1, p2)).alias("p"))
                 .select(F.shiftright(F.col("p"), 6).alias("w"),
                         F.call_function(
                             "shiftleft", F.lit(1).cast("long"),
                             F.pmod(F.col("p"), 64).cast("int")).alias("m"))
                 .groupBy("w").agg(F.bit_or("m").alias("bits")))
    have = {r["w"]: r["bits"] for r in words.collect()}
    return [have.get(i, 0) for i in range(_m64)]


def bloom_might_contain(filter_words: list, key) -> F.Column:
    """Native-expression membership test (both hash bits set)."""
    blm = F.lit(filter_words).cast("array<long>")

    def bit(p):
        word = F.element_at(blm, (F.shiftright(p, 6) + 1).cast("int"))
        mask = F.call_function("shiftleft", F.lit(1).cast("long"),
                               F.pmod(p, 64).cast("int"))
        return (word.bitwiseAND(mask)) != 0

    p1, p2 = _bf_positions(key)
    return bit(p1) & bit(p2)


def r_bloom_join(spark: SparkSession, sf: str) -> DataFrame:
    """Orders of BUILDING-segment customers, summarized per order priority —
    with the orders scan pre-filtered by a Bloom filter built from the dim
    keys, so only probable matches reach the join.  FPs die in the join;
    the result is exactly the plain join (the oracle)."""
    cust = (load(spark, sf, "customer")
            .filter(F.col("c_mktsegment") == _BF_SEGMENT)
            .select("c_custkey").distinct())
    blm = bloom_build(cust, "c_custkey")
    orders = load(spark, sf, "orders")
    pre = orders.filter(bloom_might_contain(blm, F.col("o_custkey")))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (pre.join(F.broadcast(cust),
                     pre["o_custkey"] == cust["c_custkey"])
               .groupBy("o_orderpriority")
               .agg(F.count("*").alias("n_orders"),
                    F.sum(cents).alias("revenue_cents")))


SQL_BLOOM_JOIN = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{_BF_SEGMENT}'
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# rel_skew_split_join — differentiated hot/cold join (manual skew split)
# ---------------------------------------------------------------------------

_SJ_NHOT = 3   # keys routed to the broadcast lane


def r_skew_split_join(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-dim join split into a broadcast lane for the hottest keys and a
    shuffle lane for the rest — the manual skew mitigation that predates (and
    at pathological key skew still beats) AQE's partition splitting, because
    the hot keys' fact rows NEVER enter a shuffle at all.

    Plan: (1) one map-side-combined count over the fact picks the top
    ``_SJ_NHOT`` keys (TakeOrderedAndProject — distributed, driver sees N
    rows); (2) the fact splits by broadcast semi/anti join on that key list
    (two scans, zero shuffles); (3) the hot lane joins against the
    broadcast dim slice, the cold lane joins normally; (4) the union
    aggregates.  Result equals the plain join (the oracle) by construction
    — the split is a partition of the fact, not an approximation."""
    ev = load(spark, sf, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
    dim = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")

    hot = (ev.groupBy("user_id").count()
             .orderBy(F.col("count").desc(), "user_id")
             .limit(_SJ_NHOT).select("user_id"))
    ev_hot = ev.join(F.broadcast(hot), "user_id", "left_semi")
    ev_cold = ev.join(F.broadcast(hot), "user_id", "left_anti")

    dim_hot = dim.join(F.broadcast(hot),
                       dim["c_custkey"] == hot["user_id"], "left_semi")
    joined = (
        ev_hot.join(F.broadcast(dim_hot),
                    ev_hot["user_id"] == dim_hot["c_custkey"])
        .select("c_mktsegment", "cents")
        .unionByName(
            ev_cold.join(dim, ev_cold["user_id"] == dim["c_custkey"])
                   .select("c_mktsegment", "cents")))
    return (joined.groupBy("c_mktsegment")
                  .agg(F.count("*").alias("n_events"),
                       F.sum("cents").alias("value_cents")))


SQL_SKEW_SPLIT_JOIN = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# pipeline_shard_rendezvous — HRW shard assignment + minimal-move resize
# ---------------------------------------------------------------------------

_RV_S = 8   # shard count before resize (after: _RV_S + 1)


def _hrw_weight(doc_id, s: int):
    """Cross-engine HRW weight: first 15 hex digits of md5('<id>:<s>') as
    int64 (the md5 protocol of train_curriculum_order, training9.py)."""
    return F.conv(F.substring(
        F.md5(F.concat_ws(":", doc_id.cast("string"), F.lit(str(s)))),
        1, 15), 16, 10).cast("long")


def _hrw_argmax(doc_id, n_shards: int):
    """argmax_s weight(doc, s) as a native array-of-structs max (weight
    first, shard as tiebreak — md5 ties are practically impossible but the
    order is still total)."""
    return F.array_max(F.array(*[
        F.struct(_hrw_weight(doc_id, s).alias("w"),
                 F.lit(s).alias("s")) for s in range(n_shards)
    ]))["s"]


def p_shard_rendezvous(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    out = docs.select(
        _hrw_argmax(did, _RV_S).alias("shard_old"),
        _hrw_argmax(did, _RV_S + 1).alias("shard_new"))
    return (out.groupBy("shard_old", "shard_new")
               .agg(F.count("*").alias("n_docs")))


def _sql_rendezvous() -> str:
    svals = ", ".join(f"({s})" for s in range(_RV_S + 1))
    return f"""
WITH w AS (
  SELECT doc_id, s,
         CAST(concat('0x', substring(
              md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)),
              1, 15)) AS BIGINT) AS wt
  FROM documents CROSS JOIN (VALUES {svals}) t(s)
), n AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY wt DESC, s DESC) AS rn
    FROM w) WHERE rn = 1
), o AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY wt DESC, s DESC) AS rn
    FROM w WHERE s < {_RV_S}) WHERE rn = 1
), a AS (
  SELECT o.doc_id,
         CAST(o.s AS INTEGER) AS shard_old, CAST(n.s AS INTEGER) AS shard_new
  FROM o JOIN n USING (doc_id)
)
SELECT shard_old, shard_new, CAST(count(*) AS BIGINT) AS n_docs
FROM a GROUP BY shard_old, shard_new
"""


# ---------------------------------------------------------------------------
# geo_hilbert_ranges — space-filling-curve range decomposition (data skipping)
# ---------------------------------------------------------------------------

# query bbox in GLOBAL lattice coords at depth 4+_HR_R (order-_HR_ORDER
# Hilbert lattice) — spans several L0 cells so the curve fragments
_HR_R = 8
_HR_ORDER = 7
_HR_GX = (20, 43)
_HR_GY = (30, 57)


def _hilbert_bbox_ranges() -> list[tuple[int, int, int]]:
    """Planning-time range decomposition: every lattice cell of the query
    bbox -> Hilbert index (grid/hilbert.py, numpy) -> sorted -> consecutive
    runs merged to [lo, hi] ranges.  Deterministic, query-shaped (no data
    touched) — this is the predicate-building step an Iceberg/Parquet scan
    over a Hilbert-sorted layout runs on the DRIVER before pruning files,
    which is why it is not a Spark job (the bbox lattice is bounded by the
    query, never by the corpus)."""
    import numpy as np

    from ..grid.hilbert import xy_to_d

    gx = np.arange(_HR_GX[0], _HR_GX[1] + 1, dtype=np.uint64)
    gy = np.arange(_HR_GY[0], _HR_GY[1] + 1, dtype=np.uint64)
    xx, yy = np.meshgrid(gx, gy)
    d = np.sort(xy_to_d(xx.ravel(), yy.ravel(), _HR_ORDER).astype(np.int64))
    breaks = np.nonzero(np.diff(d) != 1)[0]
    los = np.concatenate(([0], breaks + 1))
    his = np.concatenate((breaks, [len(d) - 1]))
    return [(int(d[lo]), int(d[hi]), int(hi - lo + 1))
            for lo, hi in zip(los, his)]


def g_hilbert_ranges(spark: SparkSession, sf: str) -> DataFrame:
    """Scan-pruning simulation over the Hilbert-sorted layout: the query
    bbox decomposes into contiguous Hilbert-key ranges (driver-side — see
    _hilbert_bbox_ranges), each event row maps to its Hilbert key entirely
    JVM-side (cells_sql.with_hilbert_index), and a broadcast BETWEEN join
    counts the rows each range admits — exactly the row-group pruning a
    min/max-stats scan would do.  Empty ranges are kept (n_events = 0):
    the range list IS the artifact.  The oracle re-derives the whole
    decomposition independently in SQL (generate_series lattice + the
    single-sourced unrolled curve + gaps-and-islands), so the numpy
    planner and the SQL spec cross-check each other."""
    from ..functions import cells_sql
    from ..operators.tiles import grid_b_global_ji

    ranges = spark.createDataFrame(
        _hilbert_bbox_ranges(), "range_lo long, range_hi long, n_cells long")

    cells = event_cells(spark, sf, _HR_R)
    gy, gx = grid_b_global_ji(F.col("cell"), 4 + _HR_R)
    ev = (cells_sql.with_hilbert_index(cells, gy, gx, _HR_ORDER)
          .select("hd"))
    hits = (ev.join(F.broadcast(ranges),
                    (F.col("hd") >= F.col("range_lo"))
                    & (F.col("hd") <= F.col("range_hi")))
              .groupBy("range_lo")
              .agg(F.count("*").alias("n_events")))
    return (ranges.join(hits, "range_lo", "left")
                  .select("range_lo", "range_hi", "n_cells",
                          F.coalesce("n_events", F.lit(0)).alias("n_events")))


def _sql_hilbert_ranges() -> str:
    from .geo_algebra import hilbert_iter_sql

    bb0 = f"""bb0 AS (
  SELECT hx, hy, CAST(0 AS BIGINT) AS hd
  FROM (SELECT unnest(generate_series({_HR_GX[0]}, {_HR_GX[1]})) AS hx),
       (SELECT unnest(generate_series({_HR_GY[0]}, {_HR_GY[1]})) AS hy))"""
    bb_chain, bb_last = hilbert_iter_sql(_HR_ORDER, "bb0", "", prefix="bb")
    ev0 = """ev0 AS (
  SELECT event_id, gi AS hx, gj AS hy, CAST(0 AS BIGINT) AS hd
  FROM cells WHERE cell >= 0)"""
    ev_chain, ev_last = hilbert_iter_sql(_HR_ORDER, "ev0", "event_id",
                                         prefix="ev")
    return f"""
WITH {cells_cte(_EVENT_XY, _HR_R, ['event_id'])},
{bb0},
{bb_chain},
{ev0},
{ev_chain},
isl AS (
  SELECT hd, hd - row_number() OVER (ORDER BY hd) AS grp FROM {bb_last}
),
rng AS (
  SELECT min(hd) AS range_lo, max(hd) AS range_hi,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM isl GROUP BY grp
)
SELECT r.range_lo, r.range_hi, r.n_cells,
       CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events
FROM rng r LEFT JOIN (
  SELECT r2.range_lo, CAST(count(*) AS BIGINT) AS n_events
  FROM {ev_last} e JOIN rng r2
    ON e.hd BETWEEN r2.range_lo AND r2.range_hi
  GROUP BY r2.range_lo
) h ON h.range_lo = r.range_lo
"""


# ---------------------------------------------------------------------------
# geo_staypoints — per-user same-cell dwell episodes (gaps-and-islands)
# ---------------------------------------------------------------------------

_SP_RBITS = 2   # refinement below L0 (cell side = L0_SIDE / 2)


def g_staypoints(spark: SparkSession, sf: str) -> DataFrame:
    seq = event_cells(spark, sf, _SP_RBITS, extra=("user_id", "ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("cell").over(w)
    flagged = seq.withColumn(
        "new_ep",
        F.when(prev.isNull() | (prev != F.col("cell")), 1).otherwise(0))
    run = flagged.withColumn(
        "ep", F.sum("new_ep").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    # events.ts is TIMESTAMP_NTZ; the session TZ is pinned UTC
    # (plans/session.py), so the cast preserves the instant and
    # unix_micros == DuckDB's epoch_us of the naive value.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (run.groupBy("user_id", "ep", "cell")
               .agg(F.count("*").alias("n_events"),
                    F.min(us).alias("t_start_us"),
                    (F.max(us) - F.min(us)).alias("dwell_us"))
               .filter(F.col("n_events") >= 2)
               .select("user_id", "cell", "n_events", "t_start_us",
                       "dwell_us"))


SQL_STAYPOINTS = f"""
WITH {cells_cte(f"SELECT event_id, user_id, ts, {_XENG} AS x, {_YENG} AS y FROM events",
                _SP_RBITS, ['event_id', 'user_id', 'ts'])},
flagged AS (
  SELECT event_id, user_id, ts, cell,
         CASE WHEN lag(cell) OVER w IS NULL
                OR lag(cell) OVER w <> cell THEN 1 ELSE 0 END AS new_ep
  FROM cells WHERE cell >= 0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, ts, cell,
         sum(new_ep) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS ep
  FROM flagged
)
SELECT user_id, cell, CAST(count(*) AS BIGINT) AS n_events,
       min(epoch_us(ts)) AS t_start_us,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS dwell_us
FROM runs GROUP BY user_id, ep, cell
HAVING count(*) >= 2
"""


# ---------------------------------------------------------------------------
# geo_curve_locality — Morton vs Hilbert neighbor locality, measured
# ---------------------------------------------------------------------------

_CL_ORDER = 6   # 64 x 64 lattice, 4032 neighbor pairs per axis


def g_curve_locality(spark: SparkSession, sf: str) -> DataFrame:
    """Measures ONE side of the reference's open decision #6 (Morton vs
    Hilbert, README.md "Decisiones abiertas"): over every 4-neighbor pair
    of the 2^k x 2^k lattice, the curve-index distance |d(a) - d(b)|.

    The measured verdict is the OPPOSITE of the folklore: Morton's mean
    neighbor distance is SMALLER (32.50 vs 39.05 at k=6; max 1366 vs 3413)
    — Hilbert's rotations buy curve-contiguity at the cost of larger
    index jumps for the neighbors that are not curve-adjacent.  The metric
    that actually matters for range scans is CLUSTERING (Moon et al. 1999:
    how many contiguous curve runs cover a query rectangle), where Hilbert
    wins decisively — measured by geo_curve_clustering.  Together the two
    entries are the quantified decision record.

    Bounded by construction (query-shaped lattice, never the corpus); both
    curve indices are fully native Columns (interleave_yx_cols /
    with_hilbert_index), the pair join is an equi-join on lattice coords,
    and the verdict is two rows of exact integer statistics."""
    from ..functions import cells_sql

    k = _CL_ORDER
    side = 1 << k
    ax = F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("hx")
    lat = (spark.range(1).select(ax)
           .select("hx", F.explode(F.sequence(F.lit(0), F.lit(side - 1)))
                   .alias("hy"))
           .select(F.col("hx").cast("long").alias("hx"),
                   F.col("hy").cast("long").alias("hy")))
    lat = lat.withColumn(
        "m", cells_sql.interleave_yx_cols(F.col("hy"), F.col("hx"), k, k))
    lat = cells_sql.with_hilbert_index(lat, F.col("hy"), F.col("hx"), k,
                                       out="h")
    a = lat.select(F.col("hx").alias("ax"), F.col("hy").alias("ay"),
                   F.col("m").alias("ma"), F.col("h").alias("ha"))
    b = lat.select(F.col("hx").alias("bx"), F.col("hy").alias("by"),
                   F.col("m").alias("mb"), F.col("h").alias("hb"))
    right = a.join(b, (a["ax"] + 1 == b["bx"]) & (a["ay"] == b["by"]))
    up = a.join(b, (a["ax"] == b["bx"]) & (a["ay"] + 1 == b["by"]))
    pairs = right.unionByName(up).select(
        F.abs(F.col("ma") - F.col("mb")).alias("dm"),
        F.abs(F.col("ha") - F.col("hb")).alias("dh"))
    agg = pairs.agg(F.count("*").alias("n_pairs"),
                    F.sum("dm").alias("sm"), F.max("dm").alias("xm"),
                    F.sum("dh").alias("sh"), F.max("dh").alias("xh"))
    out = agg.select(
        F.explode(F.array(
            F.struct(F.lit("morton").alias("curve"),
                     F.col("n_pairs"), F.col("sm").alias("sum_d"),
                     F.col("xm").alias("max_d")),
            F.struct(F.lit("hilbert").alias("curve"),
                     F.col("n_pairs"), F.col("sh").alias("sum_d"),
                     F.col("xh").alias("max_d")))).alias("r")
    ).select("r.*")
    return out.withColumn(
        "mean_micro", F.expr("sum_d * 1000000 DIV n_pairs"))


def _sql_curve_locality() -> str:
    from .geo_algebra import hilbert_iter_sql

    k = _CL_ORDER
    side = 1 << k
    lat0 = f"""lt0 AS (
  SELECT hx AS ox, hy AS oy, {morton_ref(2 * k, "hy", "hx")} AS m,
         hx, hy, CAST(0 AS BIGINT) AS hd
  FROM (SELECT unnest(generate_series(0, {side - 1})) AS hx),
       (SELECT unnest(generate_series(0, {side - 1})) AS hy))"""
    # carry the ORIGINAL lattice coords under distinct names — the chain
    # mutates hx/hy in place at every rot-swap step
    chain, last = hilbert_iter_sql(k, "lt0", "ox, oy, m", prefix="lt")
    return f"""
WITH {lat0},
{chain},
lat AS (SELECT ox AS hx, oy AS hy, m, hd AS h FROM {last}),
pairs AS (
  SELECT abs(a.m - b.m) AS dm, abs(a.h - b.h) AS dh
  FROM lat a JOIN lat b ON b.hx = a.hx + 1 AND b.hy = a.hy
  UNION ALL
  SELECT abs(a.m - b.m), abs(a.h - b.h)
  FROM lat a JOIN lat b ON b.hx = a.hx AND b.hy = a.hy + 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(dm) AS BIGINT) AS sm, CAST(max(dm) AS BIGINT) AS xm,
         CAST(sum(dh) AS BIGINT) AS sh, CAST(max(dh) AS BIGINT) AS xh
  FROM pairs
)
SELECT 'morton' AS curve, n_pairs, sm AS sum_d, xm AS max_d,
       (sm * 1000000) // n_pairs AS mean_micro FROM agg
UNION ALL
SELECT 'hilbert', n_pairs, sh, xh, (sh * 1000000) // n_pairs FROM agg
"""


# ---------------------------------------------------------------------------
# geo_curve_clustering — Moon et al. 1999 clustering: runs per query rect
# ---------------------------------------------------------------------------

# fixed query rectangles (x0, x1, y0, y1) on the 2^_CL_ORDER lattice —
# mixed sizes/aspects incl. thin slivers, the worst case for both curves
_CC_RECTS = [
    (0, 15, 0, 15), (10, 40, 5, 20), (30, 60, 30, 60), (5, 58, 40, 47),
    (20, 27, 20, 27), (1, 62, 1, 6), (48, 63, 0, 63), (33, 36, 2, 61),
]


def g_curve_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """The metric that decides open decision #6 for a scan-heavy engine
    (Moon et al. 1999, "Analysis of the Clustering Properties of the
    Hilbert Space-Filling Curve"): the number of CONTIGUOUS curve-key runs
    needed to cover each query rectangle — exactly the number of range
    predicates a curve-sorted layout scan must issue (geo_hilbert_ranges
    is the Hilbert planner itself).  Hilbert covers every fixture rect in
    <= Morton's run count (177 vs 320 total at k=6; pytest-gated), which
    is why Hilbert is the better SORT KEY even though Morton has the
    smaller mean neighbor distance (geo_curve_locality).

    Plan: bounded query-shaped lattice per rect; both curve keys native;
    runs via gaps-and-islands with the window PARTITIONED by (rect,
    curve) — never a global sort."""
    from ..functions import cells_sql

    k = _CL_ORDER
    rects = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_CC_RECTS)],
        "rect_id int, x0 long, x1 long, y0 long, y1 long")
    lat = (rects
           .select("rect_id", "y0", "y1",
                   F.explode(F.sequence("x0", "x1")).alias("hx"))
           .select("rect_id", "hx",
                   F.explode(F.sequence("y0", "y1")).alias("hy")))
    lat = lat.withColumn(
        "m", cells_sql.interleave_yx_cols(F.col("hy"), F.col("hx"), k, k))
    lat = cells_sql.with_hilbert_index(lat, F.col("hy"), F.col("hx"), k,
                                       out="h")
    keyed = lat.select(
        "rect_id",
        F.explode(F.array(
            F.struct(F.lit("morton").alias("curve"), F.col("m").alias("d")),
            F.struct(F.lit("hilbert").alias("curve"),
                     F.col("h").alias("d")))).alias("r")
    ).select("rect_id", "r.curve", "r.d")
    w = Window.partitionBy("rect_id", "curve").orderBy("d")
    runs = keyed.withColumn("grp", F.col("d") - F.row_number().over(w))
    return (runs.groupBy("rect_id", "curve")
                .agg(F.count("*").alias("n_cells"),
                     F.countDistinct("grp").alias("n_runs")))


def _sql_curve_clustering() -> str:
    from .geo_algebra import hilbert_iter_sql

    k = _CL_ORDER
    vals = ", ".join(f"({i}, {x0}, {x1}, {y0}, {y1})"
                     for i, (x0, x1, y0, y1) in enumerate(_CC_RECTS))
    lat0 = f"""cl0 AS (
  SELECT rect_id, {morton_ref(2 * k, "hy", "hx")} AS m,
         hx, hy, CAST(0 AS BIGINT) AS hd
  FROM (SELECT rect_id, unnest(generate_series(x0, x1)) AS hx,
               y0, y1
        FROM (VALUES {vals}) rects(rect_id, x0, x1, y0, y1)) xs,
       unnest(generate_series(xs.y0, xs.y1)) ys(hy))"""
    chain, last = hilbert_iter_sql(k, "cl0", "rect_id, m", prefix="cl")
    return f"""
WITH {lat0},
{chain},
keyed AS (
  SELECT rect_id, 'morton' AS curve, m AS d FROM {last}
  UNION ALL
  SELECT rect_id, 'hilbert', hd FROM {last}
),
runs AS (
  SELECT rect_id, curve,
         d - row_number() OVER (PARTITION BY rect_id, curve ORDER BY d)
           AS grp
  FROM keyed
)
SELECT CAST(rect_id AS INTEGER) AS rect_id, curve,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_runs
FROM runs GROUP BY rect_id, curve
"""


QUERIES = {
    "train_heavy_ngrams": (t_heavy_ngrams, SQL_HEAVY_NGRAMS),
    "rel_bloom_join": (r_bloom_join, SQL_BLOOM_JOIN),
    "rel_skew_split_join": (r_skew_split_join, SQL_SKEW_SPLIT_JOIN),
    "pipeline_shard_rendezvous": (p_shard_rendezvous, _sql_rendezvous()),
    "geo_staypoints": (g_staypoints, SQL_STAYPOINTS),
    "geo_hilbert_ranges": (g_hilbert_ranges, _sql_hilbert_ranges()),
    "geo_curve_locality": (g_curve_locality, _sql_curve_locality()),
    "geo_curve_clustering": (g_curve_clustering, _sql_curve_clustering()),
}
