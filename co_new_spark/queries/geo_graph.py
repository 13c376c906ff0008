"""Iterative graph analytics over the grid index: integer-exact PageRank on
the occupied-cell king-adjacency graph (``geo_cell_pagerank``).

Why it exists: the reference's grid algebra (cells, covers, adjacency —
/root/reference/README.md:49's ij-matrix ids) supplies exactly the graph a
spatial-centrality product needs; PageRank over cell adjacency is the
canonical "importance surface" derived from it (hub detection on density
rasters).  It is also the registry's representative ITERATIVE algorithm:
T chained join+aggregate rounds over a static edge table — the shape
GraphX/Pregel jobs take when re-expressed as DataFrame ops.

Integer-exact across engines: float PageRank is not order-associative, so a
value-hash oracle would flake.  Ranks are carried as BIGINT micro-units
(SCALE = 1e6); each round computes

    rank'(v) = BASE + (85 * sum_{u->v}(rank(u) div deg(u))) div 100

with BASE = 0.15 * SCALE.  Every operation is integer (div truncates;
operands are non-negative, so Spark's ``div`` and DuckDB's ``//`` agree),
hence the result is bit-identical regardless of partitioning, join order, or
engine.  Dangling mass (isolated cells have no out-edges) is dropped, the
standard simplification; such cells converge to BASE.

Scale notes (100 TB): only the FIRST aggregate (points -> occupied cells)
touches the fact table; the iteration runs on the cell graph (orders of
magnitude smaller).  Edges + degrees are computed once and cached; each
round is one hash join on u (edge table's partitioning is reusable across
rounds — on a real cluster, bucket both sides by u) plus one aggregation
shuffle on v.  T is fixed (no driver-side convergence probes), so the whole
job is ONE lazy plan the optimizer sees end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.knn import ring_cells_udf
from .geospatial import _EVENT_XY, event_cell_counts
from .sql_grid import cells_cte

_PR_RBITS = 8          # 16x16 refinement below L0 -> 32,768 m cells
_PR_ITERS = 3          # fixed rounds: keeps the oracle an unrolled CTE chain
_PR_SCALE = 1_000_000  # rank unit = 1e-6
_PR_BASE = 150_000     # (1 - 0.85) * SCALE
_PR_DNUM, _PR_DDEN = 85, 100

# Correctness-path cap, same convention as geo_grid_cluster: the oracle
# proves the algorithm at any size; bench raises it via env.
_PR_EVENTS = int(os.environ.get("CO_PR_EVENTS", "20000"))


def _finish(df: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Eagerly localCheckpoint the (cell-graph-sized) result, then release
    every cache the computation pinned.  .cache() entries are held by the
    cache manager with strong refs — across a 137-entry sweep + bench in one
    session they accumulate executor storage forever (round-3 ADVICE) —
    whereas checkpoint blocks are freed by the ContextCleaner once the
    returned DataFrame goes out of scope."""
    out = df.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def pagerank_int(nodes: DataFrame, edges: DataFrame,
                 iters: int = _PR_ITERS) -> DataFrame:
    """Integer-exact PageRank: ``nodes`` (cell), ``edges`` (u, v) directed.
    Returns (cell, rank) after ``iters`` rounds from a uniform SCALE start.
    Executes eagerly (localCheckpoint) so the round-static edge cache can be
    released before returning."""
    deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
    ed = edges.join(deg, "u").cache()  # static across rounds
    ranks = nodes.select("cell", F.lit(_PR_SCALE).cast("long").alias("rank"))
    for _ in range(iters):
        contrib = (ed.join(ranks.withColumnRenamed("cell", "u"), "u")
                     .select("v", F.expr("rank div deg").alias("c")))
        s = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        ranks = (nodes.select("cell")
                 .join(s.withColumnRenamed("v", "cell"), "cell", "left")
                 .select("cell", (F.lit(_PR_BASE) + F.expr(
                     f"({_PR_DNUM} * coalesce(s, CAST(0 AS BIGINT)))"
                     f" div {_PR_DDEN}")).cast("long").alias("rank")))
    return _finish(ranks, [ed])


def king_graph(spark: SparkSession, sf: str, rbits: int, n_events: int,
               pair, weight=None):
    """THE occupied-cell graph: per-cell event counts of the first
    ``n_events`` events at ``rbits`` (``nodes`` (cell, n), cached — it feeds
    the edge join, the algorithm, and the final rollup) and the king-move
    adjacency (``edges`` (u, v), A17 ring-1, cross-L0 handled through the
    global (i, j) frame) kept where ``pair(u, v)`` holds; given
    ``weight(n_u, n_v)``, the edges are (u, v, w).  The SQL twin is
    ``sql_king_graph``."""
    nodes = event_cell_counts(spark, sf, rbits, n_events).cache()

    # the endpoint counts ride along only for a weight: a projection of
    # both cached columns is planned as a scan of the renamed cache
    def counts(side):
        return [F.col("n").alias("n" + side)] if weight else []

    nb = (nodes.select(F.col("cell").alias("u"), *counts("u"),
                       F.explode(ring_cells_udf(1)(F.col("cell"))).alias("v"))
               .filter(pair(F.col("u"), F.col("v"))))
    edges = nb.join(nodes.select(F.col("cell").alias("v"), *counts("v")), "v")
    if weight is None:
        return nodes, edges.select("u", "v")
    return nodes, edges.select(
        "u", "v", weight(F.col("nu"), F.col("nv")).alias("w"))


def _cell_graph(spark: SparkSession, sf: str):
    """The directed occupied-cell graph the four entries below run on."""
    return king_graph(spark, sf, _PR_RBITS, _PR_EVENTS, lambda u, v: u != v)


def g_cell_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the occupied-cell king-adjacency graph."""
    nodes, edges = _cell_graph(spark, sf)
    ranks = pagerank_int(nodes.select("cell"), edges)
    out = nodes.join(ranks, "cell").select("cell", "n", "rank")
    return _finish(out, [nodes])


# --------------------------------------------------------------------------
# DuckDB restatement: lattice cells + adjacency re-derived from raw event
# coordinates exactly as SQL_GRID_CLUSTER does (grid-spec fragments from
# queries/sql_grid.py), then the T rounds UNROLLED as chained CTEs (standard
# SQL forbids aggregates in a recursive term, and unrolling keeps the oracle
# dependency-free).  `//` == `div` for the non-negative operands here.
# --------------------------------------------------------------------------

def sql_king_graph(rbits: int, n_events: int, edges: str, pair: str,
                   extra: str = "") -> str:
    """THE SQL restatement of ``king_graph``: occupied cells (nodes) with
    their global lattice slot -> the king adjacency CTE ``edges`` (u, v
    ``extra``) kept where ``a.cell {pair} b.cell``."""
    return f"""{cells_cte(f"{_EVENT_XY} WHERE event_id < {n_events}", rbits)},
nodes AS (
  SELECT gi, gj, cell, CAST(count(*) AS BIGINT) AS n
  FROM cells WHERE cell >= 0
  GROUP BY gi, gj, cell
), {edges} AS (
  SELECT a.cell AS u, b.cell AS v{extra}
  FROM nodes a JOIN nodes b
    ON abs(a.gi - b.gi) <= 1 AND abs(a.gj - b.gj) <= 1 AND a.cell {pair} b.cell
)"""


# The oracles of the four entries below splice this in.
_GRAPH_CTES = sql_king_graph(_PR_RBITS, _PR_EVENTS, "ed", "<>")


def _iter_cte(k: int) -> str:
    return f"""pr{k} AS (
  SELECT nd.cell,
         CAST({_PR_BASE} + ({_PR_DNUM} * coalesce(s.s, 0)) // {_PR_DDEN}
              AS BIGINT) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.v AS cell, sum(r.rank // d.deg) AS s
    FROM pr{k - 1} r JOIN ed e ON e.u = r.cell JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) s ON s.cell = nd.cell
)"""


SQL_CELL_PAGERANK = f"""
WITH {_GRAPH_CTES}, deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY u
), pr0 AS (
  SELECT cell, CAST({_PR_SCALE} AS BIGINT) AS rank FROM nodes
), {', '.join(_iter_cte(k) for k in range(1, _PR_ITERS + 1))}
SELECT nd.cell, nd.n, p.rank
FROM nodes nd JOIN pr{_PR_ITERS} p ON p.cell = nd.cell
"""


# --------------------------------------------------------------------------
# geo_cell_hops — multi-source BFS: hop distance to the nearest dense cell
# --------------------------------------------------------------------------
#
# The proximity-surface primitive (accessibility analysis: "how many grid
# steps to the nearest hotspot") — distinct from CC (min-label closure) and
# PageRank (weighted mass): BFS tracks DISTANCE, with a fixed hop cap K so
# the Spark side is K unrolled min-propagation rounds (no convergence
# probes) and the oracle a bounded recursive CTE.  Unreached cells report
# -1.  All arithmetic is small-integer — trivially hash-exact.

_BFS_K = 4          # hop cap
_BFS_MIN_PTS = 4    # seed density threshold (same convention as grid_cluster)


def bfs_hops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
             k: int = _BFS_K) -> DataFrame:
    """Min hop distance (<= k) from any seed over directed ``edges``;
    non-seed unreached nodes get -1.

    Frontier formulation, ON PURPOSE: the textbook relax loop
    ``dist = min(dist, relax(dist))`` references ``dist`` twice per round,
    so the unresolved plan TREE doubles every round — O(2^K) nodes before
    the optimizer ever runs.  Propagating only the frontier (one join +
    one distinct per round, each frontier cached — it is cell-graph-sized)
    keeps the plan linear in K; hop minimisation happens ONCE at the end
    (union of the K+1 frontier levels -> min per cell).  Revisited cells
    simply lose that min, so per-round visited-set bookkeeping — another
    double self-reference — is unnecessary."""
    frontier = seeds.select("cell").distinct().cache()
    frontiers = [frontier]
    levels = [frontier.select("cell", F.lit(0).cast("long").alias("hop"))]
    for t in range(1, k + 1):
        frontier = (edges.join(frontier.withColumnRenamed("cell", "u"), "u")
                         .select(F.col("v").alias("cell")).distinct().cache())
        frontiers.append(frontier)
        levels.append(
            frontier.select("cell", F.lit(t).cast("long").alias("hop")))
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    dist = allv.groupBy("cell").agg(F.min("hop").alias("hop"))
    out = (nodes.join(dist, "cell", "left")
                .select("cell", F.coalesce("hop", F.lit(-1)).alias("hop")))
    return _finish(out, frontiers)


def g_cell_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Per occupied cell: king-move hop distance (<= _BFS_K = 4) to the
    nearest DENSE cell (>= _BFS_MIN_PTS = 4 points), -1 beyond the cap."""
    nodes, edges = _cell_graph(spark, sf)
    seeds = nodes.filter(F.col("n") >= _BFS_MIN_PTS).select("cell")
    hops = bfs_hops(nodes.select("cell"), edges, seeds)
    return _finish(nodes.join(hops, "cell").select("cell", "n", "hop"),
                   [nodes])


# Bounded recursive CTE: UNION dedups (cell, hop) pairs, hop < K terminates.
SQL_CELL_HOPS = f"""
WITH RECURSIVE {_GRAPH_CTES}, reach(cell, hop) AS (
  SELECT cell, CAST(0 AS BIGINT) FROM nodes WHERE n >= {_BFS_MIN_PTS}
  UNION
  SELECT e.v, r.hop + 1 FROM reach r JOIN ed e ON e.u = r.cell
  WHERE r.hop < {_BFS_K}
), best AS (
  SELECT cell, min(hop) AS hop FROM reach GROUP BY cell
)
SELECT nd.cell, nd.n, coalesce(b.hop, -1) AS hop
FROM nodes nd LEFT JOIN best b ON b.cell = nd.cell
"""


# --------------------------------------------------------------------------
# geo_cost_surface — weighted cost-distance via bounded min-plus relaxation
# --------------------------------------------------------------------------
#
# Cost-distance (GIS "cost surface" / accumulated-cost raster): the cheapest
# way to reach each occupied cell from any dense seed, where stepping INTO a
# cell costs its event count (congestion-weighted routing).  Distinct
# algorithm class from geo_cell_hops: BFS minimizes HOPS (unit weights),
# this is Bellman-Ford min-plus with per-cell integer weights and a hop cap
# K — a path may be longer in hops but cheaper in cost.  The relax step
# references the previous surface twice (keep vs improve), so each round is
# localCheckpoint'ed to keep the plan linear in K (the kmeans precedent;
# the BFS frontier trick does not apply because improved cells can improve
# again).  All arithmetic is small-integer — hash-exact.

_CS_K = 6  # relaxation rounds (= max path hops considered)


def cost_surface(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                 k: int = _CS_K) -> DataFrame:
    """Min accumulated entering-cost (<= k hops) from any seed; seeds cost
    0, unreached cells -1.  ``nodes`` = (cell, n); cost of entering v =
    n_v."""
    wcost = nodes.select(F.col("cell").alias("v"), F.col("n").alias("wc"))
    dist = (seeds.select("cell", F.lit(0).cast("long").alias("c"))
                 .localCheckpoint(eager=True))
    for _ in range(k):
        relax = (edges.join(dist.withColumnRenamed("cell", "u"), "u")
                      .join(wcost, "v")
                      .select(F.col("v").alias("cell"),
                              (F.col("c") + F.col("wc")).alias("c")))
        dist = (dist.unionByName(relax)
                    .groupBy("cell").agg(F.min("c").alias("c"))
                    .localCheckpoint(eager=True))
    return (nodes.join(dist, "cell", "left")
                 .select("cell", "n",
                         F.coalesce("c", F.lit(-1)).alias("cost")))


def g_cost_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Per occupied cell: cheapest congestion-weighted route cost (<= _CS_K
    king steps) from the nearest DENSE cell (>= _BFS_MIN_PTS points)."""
    nodes, edges = _cell_graph(spark, sf)
    seeds = nodes.filter(F.col("n") >= _BFS_MIN_PTS).select("cell")
    return _finish(cost_surface(nodes, edges, seeds).orderBy("cell"),
                   [nodes])


def _cs_cte(k: int) -> str:
    return f"""d{k} AS MATERIALIZED (
  SELECT cell, min(c) AS c FROM (
    SELECT cell, c FROM d{k - 1}
    UNION ALL
    SELECT e.v AS cell, d.c + nv.n AS c
    FROM d{k - 1} d JOIN ed e ON e.u = d.cell
    JOIN nodes nv ON nv.cell = e.v)
  GROUP BY cell
)"""


SQL_COST_SURFACE = f"""
WITH {_GRAPH_CTES}, d0 AS MATERIALIZED (
  SELECT cell, CAST(0 AS BIGINT) AS c FROM nodes WHERE n >= {_BFS_MIN_PTS}
), {', '.join(_cs_cte(k) for k in range(1, _CS_K + 1))}
SELECT nd.cell, nd.n, coalesce(d.c, -1) AS cost
FROM nodes nd LEFT JOIN d{_CS_K} d ON d.cell = nd.cell
ORDER BY nd.cell
"""


# --------------------------------------------------------------------------
# geo_flow_accum — D8-style flow direction + flow accumulation on the
# density raster (steepest-ASCENT variant: basins of attraction of density
# peaks)
# --------------------------------------------------------------------------
#
# The raster-hydrology pair (ESRI FlowDirection/FlowAccumulation), run on
# the surface the engine actually has — the per-cell event-count raster —
# with ascent replacing descent: each cell flows to its strictly-"higher"
# king neighbor under the lexicographic order (n, cell), the cell-id
# tie-break making the order total, so flow strictly increases along every
# edge and the flow graph is a forest (each tree rooted at a local density
# peak).  Accumulation = catchment size: how many cells' ascent paths pass
# through each cell (mode-seeking / mean-shift basin assignment — "which
# hotspot does this cell drain into, and how big is its basin").
#
# Distinct algorithm class from the other three graph entries: propagation
# along a FUNCTIONAL graph (out-degree <= 1), so each round's aggregation
# key is the unique down_cell — sums combine map-side and the total work
# per round is one cell-graph-sized join + agg.  T rounds bound the counted
# path length (acc is exact once T >= max tree depth; both engines run the
# same T, so the result is hash-exact regardless).  All arithmetic is
# small-integer.

_FA_K = 6  # propagation rounds (= max counted ascent-path length)


def flow_accum(nodes: DataFrame, edges: DataFrame,
               k: int = _FA_K) -> DataFrame:
    """(cell, n, down_cell, acc): steepest-ascent neighbor under (n, cell)
    lexicographic order (-1 at peaks) and the k-bounded catchment count."""
    nv = nodes.select(F.col("cell").alias("v"), F.col("n").alias("nv"))
    nu = nodes.select(F.col("cell").alias("u"), F.col("n").alias("nu"))
    cand = (edges.join(nv, "v").join(nu, "u")
            .filter((F.col("nv") > F.col("nu"))
                    | ((F.col("nv") == F.col("nu"))
                       & (F.col("v") > F.col("u")))))
    # argmax by (nv, v): max over a struct is ordered lexicographically —
    # no window, one map-side-combinable agg on the cell graph
    flow = (cand.groupBy("u")
            .agg(F.max(F.struct("nv", "v")).alias("m"))
            .select(F.col("u").alias("cell"),
                    F.col("m.v").alias("down_cell"))
            .localCheckpoint(eager=True))
    acc = (nodes.select("cell", F.lit(1).cast("long").alias("acc"))
           .localCheckpoint(eager=True))
    for _ in range(k):
        s = (flow.join(acc, "cell")
             .groupBy("down_cell").agg(F.sum("acc").alias("s")))
        acc = (nodes.select("cell")
               .join(s.withColumnRenamed("down_cell", "cell"), "cell", "left")
               .select("cell", (F.lit(1) + F.coalesce("s", F.lit(0)))
                       .cast("long").alias("acc"))
               .localCheckpoint(eager=True))
    return (nodes.join(flow, "cell", "left").join(acc, "cell")
            .select("cell", "n",
                    F.coalesce("down_cell", F.lit(-1)).alias("down_cell"),
                    "acc"))


def g_flow_accum(spark: SparkSession, sf: str) -> DataFrame:
    """Per occupied cell: its density-ascent flow target and basin size."""
    nodes, edges = _cell_graph(spark, sf)
    return _finish(flow_accum(nodes, edges), [nodes])


def _fa_cte(k: int) -> str:
    return f"""a{k} AS MATERIALIZED (
  SELECT n.cell, CAST(1 + coalesce(s.s, 0) AS BIGINT) AS acc
  FROM nodes n LEFT JOIN (
    SELECT f.down_cell AS cell, sum(a.acc) AS s
    FROM a{k - 1} a JOIN flow f ON f.cell = a.cell
    GROUP BY f.down_cell
  ) s ON s.cell = n.cell
)"""


SQL_FLOW_ACCUM = f"""
WITH {_GRAPH_CTES}, cand AS (
  SELECT e.u, e.v, nv.n AS nv
  FROM ed e JOIN nodes nv ON nv.cell = e.v JOIN nodes nu ON nu.cell = e.u
  WHERE (nv.n > nu.n) OR (nv.n = nu.n AND e.v > e.u)
), flow AS (
  SELECT u AS cell, v AS down_cell FROM cand
  QUALIFY row_number() OVER (PARTITION BY u ORDER BY nv DESC, v DESC) = 1
), a0 AS MATERIALIZED (
  SELECT cell, CAST(1 AS BIGINT) AS acc FROM nodes
), {', '.join(_fa_cte(k) for k in range(1, _FA_K + 1))}
SELECT nd.cell, nd.n, coalesce(f.down_cell, -1) AS down_cell, a.acc
FROM nodes nd
LEFT JOIN flow f ON f.cell = nd.cell
JOIN a{_FA_K} a ON a.cell = nd.cell
"""


QUERIES = {
    "geo_cell_pagerank": (g_cell_pagerank, SQL_CELL_PAGERANK),
    "geo_cell_hops": (g_cell_hops, SQL_CELL_HOPS),
    "geo_cost_surface": (g_cost_surface, SQL_COST_SURFACE),
    "geo_flow_accum": (g_flow_accum, SQL_FLOW_ACCUM),
}
