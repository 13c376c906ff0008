"""Minimum spanning forest over the occupied-cell density graph — Borůvka
rounds with bounded single-batch union-find contraction (``geo_mst``).

Why it exists: the reference's grid algebra supplies a cell adjacency graph
(/root/reference/README.md:49's ij-matrix ids) and the engine's density
surface (per-cell event counts) supplies edge weights; the MSF over
``w = |n_u - n_v|`` is the minimum-density-change backbone — the classic
single-linkage clustering / region-growing primitive (cut the k-1 heaviest
MSF edges and you have k density-coherent regions).  It is also the
registry's representative GREEDY-GLOBAL graph algorithm, a different kernel
family from min-label closure (CC), weighted mass (PageRank), min-plus
relaxation (cost surface), and function composition (redirect doubling):
each Borůvka round is a per-component struct-min (map-side combined)
followed by a contraction, and the component count at least halves per
round, so the round count is O(log V) with geometrically shrinking work —
the KSV/MapReduce-MST shape (Karloff-Suri-Vassilvitskii 2010; Lattanzi et
al. 2011, "Filtering: a method for solving graph problems in MapReduce" —
public algorithms, independently coded here as DataFrame ops).

Uniqueness across engines: MSF is unique only for distinct weights, so both
engines order edges by the composite (w, u, v) — u < v canonical — which is
a strict total order (the pair (u, v) is unique).  All comparisons are
integer; the result is bit-identical regardless of partitioning or engine.

The ORACLE does not run Borůvka.  It selects edges by the CYCLE PROPERTY —
e = (u, v) is in the MSF iff u cannot reach v using only edges strictly
smaller than e in the total order — via one semi-naive recursive closure
seeded per probe edge.  Agreement therefore cross-checks two genuinely
different characterizations of the MSF (greedy cut rule vs cycle rule), not
one implementation against its twin.

Scale notes (100 TB): only the FIRST aggregate (points -> occupied cells)
touches the fact table; everything after runs on the cell graph, which is
bounded by the grid geometry (at refinement r the cell count is capped by
the lattice, not the data).  Per round: one equi-join to re-label edge
endpoints, one struct-min groupBy (partial agg mapper-side), and a
contraction over the CHOSEN edges only — a single-Arrow-batch union-find
(applyInPandas, the hull-phase-2 bounded-holistic shape), sized not by the
data but by the STATIC lattice cap at refinement r=4 (4x5 L0 blocks x 16
sub-cells = 320 components max, shrinking every round).  The two rejected
alternatives are instructive: nested large-star/small-star CC paid ~7 probe
jobs per outer round (measured 11 s of a 15 s run), and a pointer-doubling
join chain doubled the UNRESOLVED plan tree per level (measured 246 s —
the geo_cell_hops plan-explosion trap).  Each round is localCheckpointed so
lineage stays linear; the only driver involvement is the one
empty-frontier count per outer round.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import grids
from ..operators.components import connected_components
from .geo_graph import king_graph, sql_king_graph

_MST_RBITS = 4      # 4x4 refinement below L0 -> 131,072 m cells
_MST_MAXROUNDS = 12  # Boruvka needs <= ceil(log2 V); 2^12 cells >> lattice cap
# Lattice cap: occupied cells at refinement _MST_RBITS (4x5 L0 blocks x 16)
_MST_MAX_CELLS = grids.L0_NI * grids.L0_NJ * (1 << _MST_RBITS)

# Correctness-path cap, same convention as geo_cell_pagerank: the oracle
# proves the algorithm at any size; bench raises it via env.
_MST_EVENTS = int(os.environ.get("CO_MST_EVENTS", "1200"))


def _uf_contract(pdf):
    """Union-find over one Arrow batch of (cu, cv) component pairs ->
    (c_old, c_new) with c_new = the MINIMUM component id of each group
    (deterministic representative).  Bounded by the lattice cap, so the
    single group is a constant-size task, not a scalability concession."""
    import pandas as pd

    # one chosen pair per component, so the lattice cap bounds the group
    if len(pdf) > _MST_MAX_CELLS:
        raise ValueError(
            f"_uf_contract got {len(pdf)} component pairs in its single "
            f"group; the r={_MST_RBITS} lattice cap allows at most "
            f"{_MST_MAX_CELLS} (_MST_MAX_CELLS)")
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["cu"], pdf["cv"]):
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)   # union-by-min keeps min root
    keys = sorted(parent)
    return pd.DataFrame({"c_old": keys, "c_new": [find(k) for k in keys]})


def boruvka_msf(nodes: DataFrame, edges: DataFrame,
                max_rounds: int = _MST_MAXROUNDS) -> DataFrame:
    """``nodes(cell)``, ``edges(u, v, w)`` undirected canonical (u < v, one
    row per pair) -> the minimum spanning forest as ``(u, v, w)`` rows,
    minimizing by the strict total order (w, u, v).

    Each round: re-label endpoints with current components, per-component
    struct-min over both orientations, union the chosen edges into the MSF,
    contract via a single-batch union-find over the chosen COMPONENT pairs
    (statically bounded by the lattice cap) and compose labels.  Rounds stop
    when no cross-component edge remains (one count probe per round)."""
    comp = nodes.select(F.col("cell").alias("node"),
                        F.col("cell").alias("component"))
    comp = comp.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    msf: DataFrame | None = None
    for _ in range(max_rounds):
        ce = (edges
              .join(comp.select(F.col("node").alias("u"),
                                F.col("component").alias("cu")), "u")
              .join(comp.select(F.col("node").alias("v"),
                                F.col("component").alias("cv")), "v")
              .filter(F.col("cu") != F.col("cv")))
        # the probe's count is the round's only job so far — it materializes
        # the (cell-graph-sized) checkpoint as it runs
        ce = ce.localCheckpoint(eager=True)
        if ce.count() == 0:            # convergence probe
            break
        # min outgoing edge per component, both orientations, total order
        # (w, u, v) via lexicographic struct-min; map-side combined.
        both = ce.select(F.col("cu").alias("c"),
                         F.struct("w", "u", "v", "cv").alias("e")) \
                 .union(ce.select(F.col("cv").alias("c"),
                                  F.struct("w", "u", "v",
                                           F.col("cu").alias("cv")).alias("e")))
        sel = both.groupBy("c").agg(F.min("e").alias("e"))
        chosen = sel.select("e.w", "e.u", "e.v", F.col("c").alias("cu"),
                            F.col("e.cv").alias("cv"))
        round_edges = chosen.select("u", "v", "w").distinct()
        msf = round_edges if msf is None else msf.union(round_edges)
        msf = msf.localCheckpoint(eager=True)
        # contract: union-find over the chosen COMPONENT pairs in one
        # executor-side applyInPandas group — the bounded-holistic shape of
        # the hull's phase 2.  The pair table is component-sized with a
        # STATIC cap (the r=4 lattice holds <= 320 occupied cells, and the
        # component count only shrinks), so a single Arrow batch is the
        # right physical plan: one task, no per-level join chain (a pointer-
        # doubling chain was measured to double the unresolved plan tree per
        # level — the geo_cell_hops plan-explosion trap), no driver collect.
        ccm = (chosen.select("cu", "cv")
                     .groupBy(F.lit(1).alias("g"))
                     .applyInPandas(_uf_contract, "c_old long, c_new long"))
        comp = (comp.join(ccm, comp["component"] == ccm["c_old"], "left")
                    .select("node", F.coalesce("c_new", "component")
                                     .alias("component")))
        comp = comp.localCheckpoint(eager=True)
    else:
        raise RuntimeError(f"boruvka_msf did not converge in {max_rounds} rounds")
    if msf is None:
        return edges.limit(0).select("u", "v", "w")
    return msf


def _density_graph(spark: SparkSession, sf: str):
    """Occupied-cell nodes (cell, gi-free) + canonical undirected edges with
    the density-gradient weight w = |n_u - n_v|."""
    return king_graph(spark, sf, _MST_RBITS, _MST_EVENTS, lambda u, v: u < v,
                      lambda nu, nv: F.abs(nu - nv).cast("long"))


def g_mst(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum spanning forest of the occupied-cell density graph."""
    nodes, edges = _density_graph(spark, sf)
    msf = boruvka_msf(nodes.select("cell"), edges)
    out = msf.orderBy("u", "v").localCheckpoint(eager=True)
    nodes.unpersist()
    return out


# --------------------------------------------------------------------------
# DuckDB oracle: same graph derivation (grid-spec fragments from
# queries/sql_grid.py, the geo_cell_pagerank pattern), then MSF selection by
# the CYCLE PROPERTY — one semi-naive recursive closure over (probe edge,
# reached vertex) pairs where expansion only uses edges strictly smaller
# than the probe in the (w, u, v) total order.  An edge is in the MSF iff
# its far endpoint is never reached.  Nothing about Boruvka appears here.
# --------------------------------------------------------------------------

# THE one SQL derivation of the density graph + cycle-property reach
# closure, shared by both entry oracles (single-sourcing rule)
_SQL_GRAPH_CTES = f"""{sql_king_graph(
    _MST_RBITS, _MST_EVENTS, "ew", "<", ", CAST(abs(a.n - b.n) AS BIGINT) AS w")},
reach AS (
  SELECT u AS pu, v AS pv, w AS pw, u AS r FROM ew
  UNION
  SELECT t.pu, t.pv, t.pw,
         CASE WHEN f.u = t.r THEN f.v ELSE f.u END AS r
  FROM reach t JOIN ew f
    ON (f.u = t.r OR f.v = t.r)
   AND (f.w, f.u, f.v) < (t.pw, t.pu, t.pv)
), msf AS MATERIALIZED (
  SELECT e.u, e.v, e.w FROM ew e
  WHERE NOT EXISTS (
    SELECT 1 FROM reach r WHERE r.pu = e.u AND r.pv = e.v AND r.r = e.v)
)"""

SQL_MST = f"""
WITH RECURSIVE {_SQL_GRAPH_CTES}
SELECT u, v, w FROM msf
ORDER BY u, v
"""


QUERIES = {
    "geo_mst": (g_mst, SQL_MST),
}


# --------------------------------------------------------------------------
# geo_single_linkage — k-region clustering by cutting the k-1 heaviest MSF
# edges: the textbook MST->clustering composition (single-linkage
# agglomerative clustering computes exactly this dendrogram cut).
# --------------------------------------------------------------------------
#
# Shape: boruvka_msf supplies the forest (lattice-bounded); the cut drops
# the k-1 globally heaviest edges by the SAME strict (w, u, v) total order
# that made the MSF unique (so the cut — and therefore every cluster label
# — is engine-deterministic even with tied weights); cluster labels are the
# min-cell CC of the surviving edges (operators/components.py).  Everything
# after the one fact-sized points->cells aggregate is graph-sized.
#
# The oracle re-derives the MSF by the cycle property (nothing about
# Boruvka), re-applies the same cut rule, and labels clusters with a
# semi-naive recursive closure over surviving edges — min-reachable-cell
# per cell, the CC spec restated declaratively.

_SL_K = 8   # target cluster count (per CONNECTED tree; see note below)


def g_single_linkage(spark: SparkSession, sf: str) -> DataFrame:
    """(cell, cluster, n_cells-per-cluster) under the k-cut of the MSF.

    Note the forest semantics: cutting k-1 edges from a forest with c trees
    yields c + k - 1 clusters; the cut count is fixed (k-1 heaviest edges
    GLOBALLY), matching the oracle exactly."""
    nodes, edges = _density_graph(spark, sf)
    msf = boruvka_msf(nodes.select("cell"), edges)
    # k-1 heaviest MSF edges by the strict total order; the MSF is
    # graph-sized (lattice-bounded), so a TakeOrdered on it is not a
    # fact-table sort
    heavy = (msf.orderBy(F.col("w").desc(), F.col("u").desc(),
                         F.col("v").desc())
                .limit(_SL_K - 1))
    keep = msf.join(heavy, ["u", "v", "w"], "left_anti")
    cc = connected_components(keep.select("u", "v"), nodes.select("cell"))
    lab = cc.toDF("cell", "cluster")
    sizes = lab.groupBy("cluster").agg(F.count("*").alias("n_cells"))
    out = (lab.join(sizes, "cluster")
              .select("cell", "cluster", "n_cells")
              .orderBy("cell"))
    out = out.localCheckpoint(eager=True)
    nodes.unpersist()
    return out


SQL_SINGLE_LINKAGE = f"""
WITH RECURSIVE {_SQL_GRAPH_CTES}, keep AS MATERIALIZED (
  SELECT u, v, w FROM msf
  ORDER BY w DESC, u DESC, v DESC
  OFFSET {_SL_K - 1}
), lab0 AS (
  -- min-reachable-cell closure over surviving edges (the CC spec)
  SELECT cell AS node, cell AS r FROM nodes
  UNION
  SELECT l.node, CASE WHEN k.u = l.r THEN k.v ELSE k.u END AS r
  FROM lab0 l JOIN keep k ON k.u = l.r OR k.v = l.r
), lab AS MATERIALIZED (
  SELECT node AS cell, min(r) AS cluster FROM lab0 GROUP BY node
)
SELECT l.cell, l.cluster, s.n_cells
FROM lab l JOIN (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_cells
  FROM lab GROUP BY cluster) s ON s.cluster = l.cluster
ORDER BY l.cell
"""


QUERIES["geo_single_linkage"] = (g_single_linkage, SQL_SINGLE_LINKAGE)
