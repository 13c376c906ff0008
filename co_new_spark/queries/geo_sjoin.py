"""Geospatial surface: segment-intersection spatial join, PBSM-style.

Why it exists: the reference's cover/PIP stack answers point-vs-polygon;
the other classic spatial join is LINE vs LINE — road/river crossings,
boundary conflation, trajectory-vs-network intersection.  A naive engine
cross-joins (10^12 x 10^12 — impossible); the scalable plan is the
Partition-Based Spatial Merge join (Patel & DeWitt, SIGMOD 1996): tile
both sides by a uniform grid, equi-join on tile, run the exact geometric
test only within tiles, and de-duplicate multi-tile pairs WITHOUT a
distinct shuffle via the REFERENCE-POINT rule — a pair is evaluated in
every shared tile but REPORTED only in the tile containing the top-left
corner of the two bounding boxes' intersection (that corner lies in both
covers by construction, so exactly one tile reports).

Scale design (10^12 segments): tiling is a narrow per-row explode (bbox
cells, bounded by the segment-length/tile-size ratio — here <= ~5x5);
the only shuffle is the (gx, gy) equi-join, whose key cardinality is the
grid — hot tiles (a Bogota-style dense corner) are AQE-splittable because
the join is a plain hash join, and the reference-point filter runs BEFORE
the O(pairs-in-tile) predicate fan-out is materialized anywhere.  No
distinct, no window, no driver loop; the final sort is presentation-only.

Exactness: the intersection test is the textbook 4-orientation predicate
(CLRS 33.1) on INTEGER coordinates — d1..d4 are int64 cross products
(|coord| <= 2,555 so |cross| < 2^25), straddle tests compare signs, and
collinear touching falls back to on-segment bbox tests.  Zero floats
except the exact floor(x/256.0) tile map (|x| < 2^12, exact in double).
``proper`` distinguishes transversal crossings (both straddles strict)
from endpoint/collinear touches — both engines restate the predicate
verbatim.

Corpus (built natively in BOTH engines): two families of 150 md5-derived
segments ("a" roads / "b" rivers) with base points in [0, 2048)^2 and
deltas in [-512, 508] (4-aligned), giving 405 intersecting pairs of
22,500 possible — the brute-force all-pairs cross join IS the oracle, so
a tiling false negative (a pair the grid never co-locates) or a
reference-point double-report surfaces as a row diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geospatial import _XENG, _YENG

_NS = 150      # segments per family
_BOX = 2048    # base-point box
_CS = 256      # tile size


def _segs(spark: SparkSession, tag: str) -> DataFrame:
    """(sid, x1, y1, x2, y2) — md5-derived integer segments."""
    df = spark.range(_NS)

    def hx(sfx: str, start: int, length: int):
        h = F.md5(F.concat_ws("_", F.lit(tag), F.col("id"), F.lit(sfx)))
        return F.conv(F.substring(h, start, length), 16, 10).cast("long")

    x1 = F.pmod(hx("p", 1, 3), F.lit(_BOX))
    y1 = F.pmod(hx("p", 4, 3), F.lit(_BOX))
    return df.select(
        F.col("id").alias("sid"), x1.alias("x1"), y1.alias("y1"),
        (x1 + hx("d", 1, 2) * 4 - 512).alias("x2"),
        (y1 + hx("d", 3, 2) * 4 - 512).alias("y2"))


def _tiles(segs: DataFrame, p: str) -> DataFrame:
    """Explode each segment to the tiles its bbox covers (<= ~5x5 here)."""
    gmin = lambda a, b: F.floor(F.least(a, b) / F.lit(float(_CS)))
    gmax = lambda a, b: F.floor(F.greatest(a, b) / F.lit(float(_CS)))
    t = segs.select(
        *[F.col(c).alias(p + c) for c in segs.columns],
        F.explode(F.sequence(gmin(F.col("x1"), F.col("x2")),
                             gmax(F.col("x1"), F.col("x2")))).alias("gx"))
    return t.select(
        "*", F.explode(F.sequence(gmin(F.col(p + "y1"), F.col(p + "y2")),
                                  gmax(F.col(p + "y1"), F.col(p + "y2"))))
        .alias("gy"))


def g_segment_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Intersecting (aid, bid) pairs + proper/touch flag, tile-join plan."""
    a = _tiles(_segs(spark, "a"), "a")
    b = _tiles(_segs(spark, "b"), "b")
    j = a.join(b, ["gx", "gy"])

    # reference-point dedup: report only in the tile holding the top-left
    # corner of the bbox intersection.
    refx = F.greatest(F.least("ax1", "ax2"), F.least("bx1", "bx2"))
    refy = F.greatest(F.least("ay1", "ay2"), F.least("by1", "by2"))
    j = j.filter((F.col("gx") == F.floor(refx / F.lit(float(_CS))))
                 & (F.col("gy") == F.floor(refy / F.lit(float(_CS)))))

    def cross(ax, ay, bx, by, cx, cy):
        return (F.col(bx) - F.col(ax)) * (F.col(cy) - F.col(ay)) \
             - (F.col(by) - F.col(ay)) * (F.col(cx) - F.col(ax))

    d1 = cross("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    d2 = cross("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    d3 = cross("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    d4 = cross("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    j = j.select(F.col("asid").alias("aid"), F.col("bsid").alias("bid"),
                 "ax1", "ay1", "ax2", "ay2",
                 "bx1", "by1", "bx2", "by2",
                 d1.alias("d1"), d2.alias("d2"),
                 d3.alias("d3"), d4.alias("d4"))

    strad = lambda u, v: ((F.col(u) > 0) & (F.col(v) < 0)) \
                       | ((F.col(u) < 0) & (F.col(v) > 0))
    proper = strad("d1", "d2") & strad("d3", "d4")

    def on_seg(ax, ay, bx, by, cx, cy):
        return (F.least(F.col(ax), F.col(bx)) <= F.col(cx)) \
             & (F.col(cx) <= F.greatest(F.col(ax), F.col(bx))) \
             & (F.least(F.col(ay), F.col(by)) <= F.col(cy)) \
             & (F.col(cy) <= F.greatest(F.col(ay), F.col(by)))

    touch = ((F.col("d1") == 0) & on_seg("bx1", "by1", "bx2", "by2", "ax1", "ay1")) \
          | ((F.col("d2") == 0) & on_seg("bx1", "by1", "bx2", "by2", "ax2", "ay2")) \
          | ((F.col("d3") == 0) & on_seg("ax1", "ay1", "ax2", "ay2", "bx1", "by1")) \
          | ((F.col("d4") == 0) & on_seg("ax1", "ay1", "ax2", "ay2", "bx2", "by2"))

    return (j.filter(proper | touch)
            .select("aid", "bid",
                    proper.cast("int").alias("proper"))
            .orderBy("aid", "bid"))


def _sql_segs(tag: str) -> str:
    return f"""
  SELECT range AS sid,
         CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_p')), 1, 3)) AS BIGINT) % {_BOX} AS x1,
         CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_p')), 4, 3)) AS BIGINT) % {_BOX} AS y1,
         CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_p')), 1, 3)) AS BIGINT) % {_BOX}
           + CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_d')), 1, 2)) AS BIGINT) * 4 - 512 AS x2,
         CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_p')), 4, 3)) AS BIGINT) % {_BOX}
           + CAST(concat('0x', substring(md5(concat('{tag}_', CAST(range AS VARCHAR), '_d')), 3, 2)) AS BIGINT) * 4 - 512 AS y2
  FROM range({_NS})"""


SQL_SEGMENT_INTERSECT = f"""
WITH sa AS ({_sql_segs('a')}
), sb AS ({_sql_segs('b')}
), d AS (
  -- brute-force all-pairs: the oracle shares NOTHING with the tiling plan
  SELECT a.sid AS aid, b.sid AS bid,
         (b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1) AS d1,
         (b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1) AS d2,
         (a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1) AS d3,
         (a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1) AS d4,
         a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
  FROM sa a CROSS JOIN sb b
), t AS (
  SELECT aid, bid,
         (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
          AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))) AS proper,
         ((d1 = 0 AND ax1 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                  AND ay1 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d2 = 0 AND ax2 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                     AND ay2 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d3 = 0 AND bx1 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by1 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
          OR (d4 = 0 AND bx2 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by2 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))) AS touch
  FROM d
)
SELECT aid, bid, CAST(proper AS INT) AS proper
FROM t WHERE proper OR touch
ORDER BY aid, bid
"""


_CP_CS = 65536   # closest-pair cell side
_CP_CAP = 2000   # point budget (sf-stable above sf0.001)


def g_closest_pair(spark: SparkSession, sf: str) -> DataFrame:
    """Exact closest pair of event points via the grid neighborhood join
    (the PBSM idea at point scale, and geo_diameter's dual): assign each
    point to a _CP_CS cell, equi-join each point against its own and the
    8 neighboring cells, and take the struct-min of (d2, lex pair).

    Exactness precondition (pytest-pinned): any pair at distance < _CP_CS
    shares a cell or adjacent cells, so the neighborhood join sees every
    candidate for the minimum as long as the true minimum is below
    _CP_CS.  Measured d_true ~ 8.9e3 << 6.6e4 on every sf.  The general
    scheme regrids at the round-1 estimate; this lattice never needs the
    second round.

    Scale design (10^12 points): the only fact shuffle is the (cx, cy)
    equi-join with a 9x fan-out on one side; occupancy is the tuning knob
    (cell ~ expected NN distance); the min agg combines map-side, so the
    driver sees one row.  No all-pairs join anywhere — the oracle runs
    exactly that as the foil."""
    from .geospatial import _event_points

    pts = (_event_points(spark, sf)
           .filter(F.col("event_id") < _CP_CAP)
           .select(F.col("x").cast("long").alias("x"),
                   F.col("y").cast("long").alias("y"))
           .distinct())
    cell = lambda c: F.floor(c / F.lit(float(_CP_CS)))
    a = pts.select("x", "y", cell(F.col("x")).alias("cx"),
                   cell(F.col("y")).alias("cy"))
    ring = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    b = (a.select(F.col("x").alias("x2"), F.col("y").alias("y2"),
                  F.col("cx").alias("bcx"), F.col("cy").alias("bcy"))
         .select("*", F.explode(ring).alias("di"))
         .select("*", F.explode(ring).alias("dj"))
         .select("x2", "y2", (F.col("bcx") + F.col("di")).alias("cx"),
                 (F.col("bcy") + F.col("dj")).alias("cy")))
    pairs = (a.join(b, ["cx", "cy"])
             .filter((F.col("x") < F.col("x2"))
                     | ((F.col("x") == F.col("x2"))
                        & (F.col("y") < F.col("y2")))))
    d2 = ((F.col("x2") - F.col("x")) * (F.col("x2") - F.col("x"))
          + (F.col("y2") - F.col("y")) * (F.col("y2") - F.col("y")))
    m = pairs.groupBy().agg(
        F.min(F.struct(d2.alias("d2"), F.col("x").alias("x1"),
                       F.col("y").alias("y1"), F.col("x2").alias("x2"),
                       F.col("y2").alias("y2"))).alias("m"))
    return m.select("m.d2", "m.x1", "m.y1", "m.x2", "m.y2")


SQL_CLOSEST_PAIR = f"""
WITH pts AS (
  SELECT DISTINCT
         CAST({_XENG} AS BIGINT) AS x, CAST({_YENG} AS BIGINT) AS y
  FROM events WHERE event_id < {_CP_CAP}
), pr AS (
  -- the foil: true all-pairs min, no grid anywhere
  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2
  FROM pts a JOIN pts b ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)
), mn AS (SELECT min(d2) AS d2 FROM pr)
SELECT d2,
       min(struct_pack(x1 := x1, y1 := y1, x2 := x2, y2 := y2)).x1 AS x1,
       min(struct_pack(x1 := x1, y1 := y1, x2 := x2, y2 := y2)).y1 AS y1,
       min(struct_pack(x1 := x1, y1 := y1, x2 := x2, y2 := y2)).x2 AS x2,
       min(struct_pack(x1 := x1, y1 := y1, x2 := x2, y2 := y2)).y2 AS y2
FROM pr JOIN mn USING (d2) GROUP BY d2
"""


QUERIES = {
    "geo_segment_intersect": (g_segment_intersect, SQL_SEGMENT_INTERSECT),
    "geo_closest_pair": (g_closest_pair, SQL_CLOSEST_PAIR),
}
