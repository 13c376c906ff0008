"""Cell-cover join: point-cells vs mixed-precision jurisdiction covers (A21/B8).

Semantics from the reference's citycover.csv: each municipality's
footprint is a set of Grid B cells at *mixed* depths (3-hex cells next to
4-hex+half-bit cells).  A point matches a municipality when any cover cell is
a prefix-ancestor of the point's cell.

Scale strategy (SURVEY.md §2.B8): the cover is driver-tiny (~14k cells) and
occurs at a handful of distinct depths; the points are fact-sized.  So the
lookup is array work, not a join: a ``CoverIndex`` collects the cover once
per local cover (no shuffle), keeps the min isolabel per cover cell in one
sorted cell array per depth, and ships those arrays inside ONE Arrow-batched
UDF.  Per batch, a point's ancestor at each cover depth is a bit-shift and
its match is one ``np.searchsorted``.  The fact table is never shuffled or
joined, and no broadcast is built.  A single sweep over disjoint Morton
segments would be one search instead of one per depth, but it can match a
point shallower than the deepest cover cell to a cell that does not contain
it; ancestor equality per depth is exactly the prefix join at any depth.

A local cover (``DataFrame.isLocal()``: a ``LocalRelation`` carrying its own
rows, e.g. ``spark.createDataFrame`` of a small pandas frame) cannot change,
so its index is kept as long as that DataFrame object lives.  Any other cover
(a file scan, an RDD-backed frame) may read other rows next time and is
collected on every call.  A cover that fails validation is never kept.

Border cells legitimately appear in several municipalities' covers.
``cover_lookup_best`` picks the deterministic min(isolabel_ext) (exact
disambiguation = PIP refinement, A20).

``flagship`` is the one definition of the north-star pipeline built on it:
stored pages -> fused geocode + cover lookup -> matched page rows.
"""

from __future__ import annotations

import weakref

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import geo
from ..grid import cells

FLAGSHIP_RBITS = 26  # Grid B refinement of the flagship's page cells

_BEST = StructType([StructField("isolabel_ext", StringType()),
                    StructField("cover_cell", LongType())])
_HIT = StructType([StructField("cell", LongType()),
                   StructField("isolabel_ext", StringType())])


class CoverIndex:
    """``cover`` (overlay rows dropped) prepared for lookups: ``labels``, the
    distinct isolabels plus a trailing null for "no cover cell contains the
    point"; ``levels``, per depth (shallow first) the sorted cover cells and
    each one's min-isolabel rank; the numpy ``lookup`` over them; and its
    single-eval Arrow UDFs ``min_label`` (cell -> min isolabel), ``deepest``
    (cell -> struct(isolabel_ext, cover_cell) of the deepest containing cell,
    min isolabel on ties) and ``flagship`` (text -> struct(cell,
    isolabel_ext), geocode and ``min_label`` in one crossing).  The UDFs
    close over the arrays, not the index, so they ship no Spark handle."""

    def __init__(self, cover: DataFrame):
        if "kind" in cover.columns:
            cover = cover.filter(F.col("kind") == "cover")
        tbl = cover.select("cell", "isolabel_ext").toArrow()
        cell = geo._np(tbl.column("cell"))
        if ((cell < 0) | (cells.depth(cell) > cells.MAXB)).any():
            raise ValueError(f"cover column 'cell' must hold cells >= 0 of depth <= {cells.MAXB}")
        if tbl.column("isolabel_ext").null_count:
            raise ValueError("cover column 'isolabel_ext' must be non-null")
        names, rank = np.unique(geo._np(tbl.column("isolabel_ext")), return_inverse=True)
        order = np.lexsort((rank, cell))          # min rank first within a cell
        cell, first = np.unique(cell[order], return_index=True)
        rank = rank[order][first]
        depth = cells.depth(cell)
        levels = [(d, cell[depth == d], rank[depth == d]) for d in sorted(set(depth.tolist()))]
        labels = pa.array([*names, None], pa.string())
        none = len(names)

        def lookup(c: np.ndarray, deepest: bool = False) -> tuple[np.ndarray, np.ndarray]:
            """Point cells -> (rank in ``labels``, containing cover cell);
            the null label and -1 where no cover cell contains the point."""
            best = np.full(len(c), none)
            hit_cell = np.full(len(c), -1, dtype=np.int64)
            nb = cells.depth(c)
            for d, keys, ranks in levels:   # a deeper hit replaces a shallower one
                anc = (((c >> 6) >> np.maximum(nb - d, 0)) << 6) | d
                i = np.minimum(np.searchsorted(keys, anc), len(keys) - 1)
                hit = (c >= 0) & (nb >= d) & (keys[i] == anc) & (deepest | (ranks[i] < best))
                best = np.where(hit, ranks[i], best)
                hit_cell = np.where(hit, anc, hit_cell)
            return best, hit_cell

        def min_label(c: pa.Array) -> pa.Array:
            return pc.take(labels, lookup(geo._np(c))[0])

        def deepest_hit(c: pa.Array) -> pa.Array:
            best, hit_cell = lookup(geo._np(c), deepest=True)
            return pa.StructArray.from_arrays([pc.take(labels, best), pa.array(hit_cell)],
                                              names=_BEST.names)

        def flagship(text: pa.Array) -> pa.Array:
            c = geo.cells_from_text(text, FLAGSHIP_RBITS)
            return pa.StructArray.from_arrays([pa.array(c), pc.take(labels, lookup(c)[0])],
                                              names=_HIT.names)

        self.labels, self.levels, self.lookup = labels, levels, lookup
        self.min_label = geo.single_eval(F.arrow_udf(min_label, StringType()))
        self.deepest = geo.single_eval(F.arrow_udf(deepest_hit, _BEST))
        self.flagship = geo.single_eval(F.arrow_udf(flagship, _HIT))


# local cover -> its CoverIndex; an entry lives as long as the caller's
# DataFrame object (the index holds no reference back to it)
_INDEXES: weakref.WeakKeyDictionary[DataFrame, CoverIndex] = weakref.WeakKeyDictionary()


def cover_index(cover: DataFrame) -> CoverIndex:
    """``cover``'s CoverIndex: built once per local cover, on every call for
    any other (see the module docstring)."""
    if not cover.isLocal():
        return CoverIndex(cover)
    index = _INDEXES.get(cover)
    if index is None:
        index = _INDEXES[cover] = CoverIndex(cover)
    return index


def cover_best_with_cell(points: DataFrame, cover: DataFrame,
                         cell_col: str = "cell") -> DataFrame:
    """points + (isolabel_ext, cover_cell): the DEEPEST cover cell containing
    each point (tie-break min isolabel), with zero fact-table shuffle.
    ``cover_cell`` is the prefix the short-code suffix is computed
    against (A23)."""
    best = cover_index(cover).deepest(F.col(cell_col))
    return (points.withColumn("__best", best)
            .filter(F.col("__best.isolabel_ext").isNotNull())
            .withColumns({"isolabel_ext": F.col("__best.isolabel_ext"),
                          "cover_cell": F.col("__best.cover_cell")})
            .drop("__best"))


def cover_anti(points: DataFrame, cover: DataFrame,
               cell_col: str = "cell", keep: list[str] | None = None) -> DataFrame:
    """Spatial ANTI-join: the points matched by NO cover cell at any depth
    (the complement of cover_lookup_best) — uncovered/out-of-jurisdiction
    detection, with zero fact-table shuffle (a generic left_anti against a
    materialized hit set would shuffle fact-sized data on the join key)."""
    keep = keep or list(points.columns)
    best = cover_index(cover).min_label(F.col(cell_col))
    return points.withColumn("__iso", best).filter(F.col("__iso").isNull()).select(*keep)


def cover_lookup_best(points: DataFrame, cover: DataFrame,
                      cell_col: str = "cell", keep: list[str] | None = None,
                      dedup: bool = True) -> DataFrame:
    """Deterministic single-match cover lookup (min isolabel per point),
    with zero fact-table shuffle and no explode blow-up.

    ``dedup=True`` additionally collapses duplicate ``keep`` tuples (the
    historical contract); pass False on row-level pipelines to stay
    shuffle-free.
    """
    keep = keep or list(points.columns)
    best = cover_index(cover).min_label(F.col(cell_col))
    out = points.withColumn("isolabel_ext", best).filter(F.col("isolabel_ext").isNotNull())
    if dedup:
        return out.groupBy(*keep).agg(F.min("isolabel_ext").alias("isolabel_ext"))
    return out.select(*keep, "isolabel_ext")


def flagship_cells(pages: DataFrame) -> DataFrame:
    """The flagship's geocode half: pages (url, text) -> (url, cell).
    Geoparse, projection and Grid B encode at refinement 26 run fused in one
    Arrow crossing; pages without a cell on the grid are dropped."""
    return (pages.select("url", geo.encode_b_cell_from_text(F.col("text"), FLAGSHIP_RBITS)
                         .alias("cell"))
            .filter(F.col("cell") >= 0))


def flagship(pages: DataFrame, cover: DataFrame) -> DataFrame:
    """The north-star pipeline: pages -> (url, cell, isolabel_ext), one row
    per page whose cell some ``cover`` cell contains (min isolabel on border
    cells); the rows of ``cover_lookup_best(flagship_cells(pages), cover,
    keep=["url", "cell"], dedup=False)``.  Geocode and cover lookup run in
    ONE Arrow crossing (``CoverIndex.flagship``), with no join and no
    exchange, so each caller's aggregate on top is the plan's only shuffle."""
    hit = cover_index(cover).flagship(F.col("text"))
    return (pages.select("url", hit.alias("__hit"))
            .filter(F.col("__hit.isolabel_ext").isNotNull())
            .select("url", "__hit.cell", "__hit.isolabel_ext"))
