"""Grid-algebra query surface — hierarchy, codec, geometry, PIP — oracle-checked.

Every query here derives deterministic EPSG:9377 planar points from ``events``
(identical float64 arithmetic on both engines — divisors/steps are powers of
two), runs the ENGINE kernels on the Spark side (pandas-UDF cell encode, native
shift/mask hierarchy algebra, PIP), and restates the grid SPEC
(/root/reference/conf.yaml:21-26, /root/reference/README.md:51,77) as plain SQL
on the DuckDB side.  So parent/children/neighbor traversal, the base16h
suffix-letter grammar, cell boxes/areas and point-in-polygon are all
driver-verified against an independent restatement — not just pytest-verified.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells_sql, geo
from ..grid import grids
from ..grid.codec import GEOHASH_ALPHABET
from ..operators import pip
from ..operators.knn import ring_cells_udf
from ..operators.tiles import grid_b_global_ji
from .geospatial import (
    _EVENT_XY, _XENG, _YENG, _event_points, event_cell_counts, event_cells)
from .sql_grid import (
    KING,
    b16h_code,
    b32_code,
    cells_cte,
    dbl,
    l0_i_case,
    l0_j_case,
    lattice_cell,
    morton_deref_x,
    morton_deref_y,
)

X0 = grids.L0_ORIGIN_X
Y0 = grids.L0_ORIGIN_Y
SIDE = grids.L0_SIDE


# ---------------------------------------------------------------------------
# geo_parent_rollup — leaf agg at depth 12, native re-agg at depths 8 and 4
# (A13/B15: hierarchy rollup = shift arithmetic, no re-scan of the fact table)
# ---------------------------------------------------------------------------

def g_parent_rollup(spark: SparkSession, sf: str) -> DataFrame:
    return (
        event_cell_counts(spark, sf, 8)
        .withColumn("cell_l1", cells_sql.cell_ancestor_at(F.col("cell"), 8))
        .withColumn("cell_l0", cells_sql.cell_ancestor_at(F.col("cell"), 4))
        .groupBy("cell_l0", "cell_l1")
        .agg(F.sum("n").alias("n_points"), F.count("*").alias("n_leaf_cells"))
    )


SQL_PARENT_ROLLUP = f"""
WITH {cells_cte(_EVENT_XY, 8, ['event_id'])},
leaf AS (SELECT cell, count(*) AS n FROM cells WHERE cell >= 0 GROUP BY cell)
SELECT ((cell >> 6) >> 8) * 64 + 4 AS cell_l0,
       ((cell >> 6) >> 4) * 64 + 8 AS cell_l1,
       CAST(sum(n) AS BIGINT) AS n_points, count(*) AS n_leaf_cells
FROM leaf GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# geo_children — quadtree children expansion (A14), native sequence+transform
# ---------------------------------------------------------------------------

def g_children(spark: SparkSession, sf: str) -> DataFrame:
    par = event_cells(spark, sf, 2).select("cell").distinct()
    return par.select(
        F.col("cell").alias("parent"),
        F.explode(cells_sql.cell_children(F.col("cell"), 2)).alias("child"),
    )


SQL_CHILDREN = f"""
WITH {cells_cte(_EVENT_XY, 2, ['event_id'])},
par AS (SELECT DISTINCT cell FROM cells WHERE cell >= 0)
SELECT cell AS parent,
       (((cell >> 6) * 4 + o) * 64 + (cell & 63) + 2) AS child
FROM par CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o)
"""


# ---------------------------------------------------------------------------
# geo_neighbors — king-move ring-1 neighbors on the global lattice (A17)
# ---------------------------------------------------------------------------

def g_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    cells = event_cells(spark, sf, 4).select("cell").distinct()
    return cells.select(
        "cell", F.explode(ring_cells_udf(1)(F.col("cell"))).alias("neighbor")
    ).filter(F.col("neighbor") != F.col("cell"))


SQL_NEIGHBORS = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
cc AS (SELECT DISTINCT cell, gi, gj FROM cells WHERE cell >= 0),
nb AS (
  SELECT cell, {lattice_cell("cc.gi + d.di", "cc.gj + d.dj", 4)} AS neighbor
  FROM cc CROSS JOIN {KING} d
  WHERE NOT (d.di = 0 AND d.dj = 0)
)
SELECT cell, neighbor FROM nb WHERE neighbor >= 0
"""


# ---------------------------------------------------------------------------
# geo_cell_box — cell -> bbox / center / area (A5/A16/A24)
# ---------------------------------------------------------------------------

_DX8 = SIDE / 4.0  # depth-8 cell side: 131072 m exactly (2^17)


def g_cell_box(spark: SparkSession, sf: str) -> DataFrame:
    cells = event_cells(spark, sf, 4).select("cell").distinct()
    boxed = cells.withColumn("box", geo.cell_b_box(F.col("cell")))
    return boxed.select(
        "cell",
        F.col("box.xmin").alias("xmin"), F.col("box.ymin").alias("ymin"),
        F.col("box.xmax").alias("xmax"), F.col("box.ymax").alias("ymax"),
        ((F.col("box.xmin") + F.col("box.xmax")) / 2).alias("cx"),
        ((F.col("box.ymin") + F.col("box.ymax")) / 2).alias("cy"),
        ((F.col("box.xmax") - F.col("box.xmin"))
         * (F.col("box.ymax") - F.col("box.ymin"))).alias("area_m2"),
    )


SQL_CELL_BOX = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
cc AS (SELECT DISTINCT cell, gi, gj FROM cells WHERE cell >= 0),
b AS (
  SELECT cell,
         {dbl(X0)} + gi * {dbl(_DX8)} AS xmin, {dbl(Y0)} + gj * {dbl(_DX8)} AS ymin,
         {dbl(X0)} + gi * {dbl(_DX8)} + {dbl(_DX8)} AS xmax,
         {dbl(Y0)} + gj * {dbl(_DX8)} + {dbl(_DX8)} AS ymax
  FROM cc)
SELECT cell, xmin, ymin, xmax, ymax,
       (xmin + xmax) / 2 AS cx, (ymin + ymax) / 2 AS cy,
       (xmax - xmin) * (ymax - ymin) AS area_m2
FROM b
"""


# ---------------------------------------------------------------------------
# geo_cell_codec — base16h strings incl. ALL THREE suffix-letter families
# (grammar per /root/reference/conf.yaml:29 + citycover.csv; SURVEY.md §1.5)
# ---------------------------------------------------------------------------

def g_cell_codec(spark: SparkSession, sf: str) -> DataFrame:
    # depths 13/14/15 -> leftover bits 1/2/3, so code_g/code_h/code_j cover
    # ALL THREE suffix-letter families (G/Q, H/M/R/V, J..Z) in one oracle
    pts = _event_points(spark, sf)
    out = pts
    for r in (9, 10, 11):
        out = out.withColumn(f"cell{r}", geo.xy_to_cell_b(F.col("x"), F.col("y"), r))
    out = out.filter(F.col("cell9") >= 0)
    return out.select(
        "event_id",
        geo.cell_b_code(F.col("cell9")).alias("code_g"),
        geo.cell_b_code(F.col("cell10")).alias("code_h"),
        geo.cell_b_code(F.col("cell11")).alias("code_j"),
    )


def _sql_codec_one(r: int, alias: str) -> str:
    return f"""
(SELECT event_id, {b16h_code('b', 4 + r)} AS {alias}
 FROM (SELECT event_id, (cell >> 6) AS b FROM ({_only_cells_subq(r)}) WHERE cell >= 0))
"""


def _only_cells_subq(r: int) -> str:
    return f"WITH {cells_cte(_EVENT_XY, r, ['event_id'])} SELECT event_id, cell FROM cells"


SQL_CELL_CODEC = f"""
SELECT g.event_id, g.code_g, h.code_h, j.code_j
FROM {_sql_codec_one(9, 'code_g')} g
JOIN {_sql_codec_one(10, 'code_h')} h ON g.event_id = h.event_id
JOIN {_sql_codec_one(11, 'code_j')} j ON g.event_id = j.event_id
"""


# ---------------------------------------------------------------------------
# geo_grid_generate — materialize a full grid level + geometry (A18)
# ---------------------------------------------------------------------------

def g_grid_generate(spark: SparkSession, sf: str) -> DataFrame:
    """All 256 depth-8 cells with native (codegen) box decode — no UDF at all."""
    df = spark.range(256).withColumn("cell", F.col("id") * 64 + 8)
    gy, gx = grid_b_global_ji(F.col("cell"), 8)
    return df.select(
        "cell",
        (F.lit(X0) + gx * F.lit(_DX8)).alias("xmin"),
        (F.lit(Y0) + gy * F.lit(_DX8)).alias("ymin"),
        (F.lit(X0) + gx * F.lit(_DX8) + F.lit(_DX8)).alias("xmax"),
        (F.lit(Y0) + gy * F.lit(_DX8) + F.lit(_DX8)).alias("ymax"),
    )


SQL_GRID_GENERATE = f"""
WITH r AS (SELECT unnest(range(256)) AS id),
d AS (
  SELECT id, id // 16 AS digit, {morton_deref_y(4, "id")} AS iy,
         {morton_deref_x(4, "id")} AS ix
  FROM r),
ji AS (
  SELECT id, {l0_j_case()} * 4 + iy AS gy, {l0_i_case()} * 4 + ix AS gx
  FROM d)
SELECT id * 64 + 8 AS cell,
       {dbl(X0)} + gx * {dbl(_DX8)} AS xmin,
       {dbl(Y0)} + gy * {dbl(_DX8)} AS ymin,
       {dbl(X0)} + gx * {dbl(_DX8)} + {dbl(_DX8)} AS xmax,
       {dbl(Y0)} + gy * {dbl(_DX8)} + {dbl(_DX8)} AS ymax
FROM ji
"""


# ---------------------------------------------------------------------------
# geo_pip_poly — point-in-polygon join (A20) vs a SQL crossing-test oracle
# ---------------------------------------------------------------------------

# Literal test polygon over central Colombia in EPSG:9377 (closed ring).
_POLY = np.array([
    [4_600_000.0, 1_600_000.0],
    [5_200_000.0, 1_700_000.0],
    [5_400_000.0, 2_200_000.0],
    [4_900_000.0, 2_600_000.0],
    [4_400_000.0, 2_100_000.0],
    [4_600_000.0, 1_600_000.0],
])


def g_pip_poly(spark: SparkSession, sf: str) -> DataFrame:
    pts = _event_points(spark, sf)
    inside = pip.pip_filter(pts, [_POLY])
    return inside.select("event_id", "x", "y")


def _sql_crossings(poly: np.ndarray) -> str:
    terms = []
    for k in range(len(poly) - 1):
        xi, yi = poly[k]
        xj, yj = poly[k + 1]
        terms.append(
            f"(CASE WHEN (({yi!r} > y) <> ({yj!r} > y)) AND "
            f"(x < ({xj!r} - {xi!r}) * (y - {yi!r}) / ({yj!r} - {yi!r}) + {xi!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return " + ".join(terms)


SQL_PIP = f"""
WITH pts AS (SELECT event_id, CAST({_XENG} AS DOUBLE) AS x,
                    CAST({_YENG} AS DOUBLE) AS y FROM events)
SELECT event_id, x, y FROM pts
WHERE ({_sql_crossings(_POLY)}) % 2 = 1
"""


# ---------------------------------------------------------------------------
# geo_shortcode — abbreviation-context short codes (A22/A23, rows-only)
# Semantics: /root/reference/README.md:59-65 (context abbreviation replaces
# the jurisdiction's cover-cell prefix), separator '+' per conf.yaml:30,
# abbreviation dim /root/reference/data/synonym.csv.
# ---------------------------------------------------------------------------


def g_shortcode(spark: SparkSession, sf: str) -> DataFrame:
    """Page short codes over the whole synthetic corpus.  The xxhash page
    generation + text geoparse/encode is MATERIALIZED as (url, cell); the
    oracle re-derives the cover resolution (citycover.csv decoded in SQL),
    b16h suffix encode, synonym default-abbrev join and top-100 aggregate
    from the same bytes."""
    from ..operators.cover import cover_best_with_cell
    from ..sources.pages import stored_pages as pages
    from ..sources.reference_data import load_citycover, load_synonym
    from .mat import materialize

    pg = pages(spark, 4_000)
    # rid keys rows (urls repeat in the corpus — duplicate rows each carry
    # their own best cover, so the oracle must resolve per row, not per url)
    pts = materialize(
        pg.select(
            "url", geo.encode_b_cell_from_text(F.col("text"), 26).alias("cell")
        ).filter(F.col("cell") >= 0).coalesce(1)
        .withColumn("rid", F.monotonically_increasing_id()),
        "shortcode_pts")
    # deepest cover cell wins (tie-break min isolabel) — shuffle-free
    best = cover_best_with_cell(pts.select("url", "cell"), load_citycover(spark))
    d = F.col("cover_cell").bitwiseAND(F.lit(63))
    nsfx = (F.col("cell").bitwiseAND(F.lit(63)) - d).cast("int")
    sfx_bits = cells_sql.cell_low_bits(F.col("cell"), nsfx)
    best = best.withColumn("suffix", geo.b16h_string(sfx_bits, nsfx))
    syn = load_synonym(spark).filter(F.col("default_abbrev")) \
        .groupBy("isolabel_ext").agg(F.min("abbrev").alias("abbrev"))
    out = best.join(F.broadcast(syn), "isolabel_ext", "left")
    shortcode = F.concat_ws("+", F.coalesce(F.col("abbrev"), F.col("isolabel_ext")),
                            F.col("suffix"))
    return (
        out.withColumn("shortcode", shortcode)
        .groupBy("isolabel_ext", "abbrev")
        .agg(F.count("*").alias("n_pages"), F.min("shortcode").alias("example"))
        .orderBy(F.col("n_pages").desc(), "isolabel_ext").limit(100)
    )


def _sql_shortcode() -> str:
    from .geo_cover_sql import _REF_DATA, _sql_csv_decode, cover_hits_cte
    from .mat import mat_glob

    return f"""
WITH cells AS (SELECT rid, cell FROM read_parquet('{mat_glob("shortcode_pts")}')),
{_sql_csv_decode("cover", "covbits")},
pcell AS (SELECT rid, cell >> 6 AS pbits, CAST(cell & 63 AS INT) AS pd FROM cells),
{cover_hits_cte("pcell", ["rid", "pd"], "covbits", "pd")},
best AS (
  SELECT rid, pbits, pd, isolabel_ext, cdepth FROM (
    SELECT *, row_number() OVER (PARTITION BY rid
                                 ORDER BY cdepth DESC, isolabel_ext) AS rn
    FROM hits) WHERE rn = 1),
syn2 AS (
  SELECT isolabel_ext, min(abbrev) AS abbrev
  FROM read_csv('{_REF_DATA}/synonym.csv', header=true, all_varchar=true)
  WHERE default_abbrev = 't' GROUP BY isolabel_ext),
sfxd AS (
  SELECT b.rid, b.isolabel_ext, s.abbrev,
         b.pd - b.cdepth AS nsfx,
         b.pbits & ((CAST(1 AS BIGINT) << (b.pd - b.cdepth)) - 1) AS sfx
  FROM best b LEFT JOIN syn2 s USING (isolabel_ext)),
codes AS (
  SELECT rid, isolabel_ext, abbrev,
         coalesce(abbrev, isolabel_ext) || '+' || {b16h_code('sfx', 'nsfx')} AS shortcode
  FROM sfxd)
SELECT isolabel_ext, abbrev, CAST(count(*) AS BIGINT) AS n_pages,
       min(shortcode) AS example
FROM codes GROUP BY isolabel_ext, abbrev
ORDER BY n_pages DESC, isolabel_ext LIMIT 100
"""


def g_coverage_clip(spark: SparkSession, sf: str) -> DataFrame:
    """A19: every depth-8 cell clipped to the test polygon -> per-cell area.

    Oracle-backed via the mat.py protocol (round-3 VERDICT ask #6): the S–H
    kernel's clipped-ring VERTICES are materialized (cell, idx, vx, vy) and
    BOTH engines re-derive the shoelace area from those bytes with the
    IDENTICAL float64 op order — per-edge term vx_i*vy_{i+1} - vx_{i+1}*vy_i
    (wraparound via (idx+1) mod n), then a LEFT FOLD in idx order (Spark
    F.aggregate from 0.0 vs DuckDB list_reduce from the first term: IEEE
    0.0 + t == t), then abs * 0.5, round(3), keep > 0.  The clip kernel
    itself stays gated by the area-partition exactness pytest
    (tests/test_geometry.py)."""
    from ..operators.coverage import clip_vertices_udf
    from .mat import materialize

    cells = g_grid_generate(spark, sf).select("cell")
    ex = (cells.withColumn("v", clip_vertices_udf(_POLY)(F.col("cell")))
               .select("cell", F.posexplode("v").alias("idx", "s"))
               .select("cell", F.col("idx").cast("long").alias("idx"),
                       F.col("s.vx").alias("vx"), F.col("s.vy").alias("vy")))
    ex = materialize(ex, "coverage_clip_verts", key=sf)
    vs = (ex.groupBy("cell")
            .agg(F.array_sort(F.collect_list(
                F.struct("idx", "vx", "vy"))).alias("vs")))
    n = F.size("vs")
    nxt = lambda i: F.element_at(F.col("vs"), ((i + 1) % n + 1).cast("integer"))  # noqa: E731
    terms = F.transform(
        "vs", lambda s, i: s["vx"] * nxt(i)["vy"] - nxt(i)["vx"] * s["vy"])
    area = F.abs(F.aggregate(terms, F.lit(0.0),
                             lambda acc, t: acc + t)) * F.lit(0.5)
    return (vs.select("cell", F.round(area, 3).alias("clip_area"))
              .filter(F.col("clip_area") > 0))


def _sql_coverage_clip() -> str:
    """Shoelace over the materialized clip vertices, same fold order."""
    from .mat import mat_glob

    return f"""
WITH v AS (SELECT * FROM read_parquet('{mat_glob("coverage_clip_verts")}')),
nv AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY cell),
t AS (
  SELECT a.cell, a.idx, a.vx * b.vy - b.vx * a.vy AS term
  FROM v a JOIN nv ON nv.cell = a.cell
  JOIN v b ON b.cell = a.cell AND b.idx = (a.idx + 1) % nv.n
),
s AS (SELECT cell, list(term ORDER BY idx) AS ts FROM t GROUP BY cell)
SELECT cell, round(abs(list_reduce(ts, (x, y) -> x + y)) * 0.5, 3) AS clip_area
FROM s WHERE round(abs(list_reduce(ts, (x, y) -> x + y)) * 0.5, 3) > 0
"""


def g_polygon_cover(spark: SparkSession, sf: str) -> DataFrame:
    """§3.2 cover production: polygon -> mixed-precision cell cover.

    Oracle-checked via the mat.py protocol: every refinement level's
    (cell, depth, clip) frontier is materialized and BOTH engines re-derive
    the full/border classification and the emission rule from those bytes
    (SQL_POLYGON_COVER); the numpy clip kernel itself stays gated by the
    area-partition + ancestry pytests (tests/test_geometry.py)."""
    from ..operators.cover_gen import polygon_cover

    out = polygon_cover(spark, _POLY, base_depth=8, max_depth=12,
                        trace_name="polygon_cover_trace")
    return out.select("cell", "kind", "area_m2")


def _sql_polygon_cover(base_depth: int = 8, max_depth: int = 12) -> str:
    from ..operators.cover_gen import full_cell_area
    from .mat import mat_glob

    thr = "CASE depth " + " ".join(
        f"WHEN {d} THEN {full_cell_area(d) * (1 - 1e-12)!r}"
        for d in range(base_depth, max_depth + 1, 2)) + " END"
    return f"""
        SELECT cell,
               CASE WHEN clip >= {thr} THEN 'full' ELSE 'border' END AS kind,
               clip AS area_m2
        FROM read_parquet('{mat_glob("polygon_cover_trace")}')
        WHERE clip >= {thr} OR depth = {max_depth}
    """


# donut: outer pentagon (reused) + square hole around its centroid
_HOLE = np.array([
    [4_800_000.0, 1_950_000.0],
    [5_050_000.0, 1_950_000.0],
    [5_050_000.0, 2_200_000.0],
    [4_800_000.0, 2_200_000.0],
    [4_800_000.0, 1_950_000.0],
])


def g_pip_holes(spark: SparkSession, sf: str) -> DataFrame:
    """A20 with holes: even-odd parity over outer ring + hole ring.

    Points inside the hole are OUTSIDE the polygon; the oracle restates the
    crossing sum over BOTH rings mod 2.
    """
    pts = _event_points(spark, sf)
    inside = pip.pip_filter(pts, [_POLY, _HOLE])
    return inside.select("event_id", "x", "y")


SQL_PIP_HOLES = f"""
WITH pts AS (SELECT event_id, CAST({_XENG} AS DOUBLE) AS x,
                    CAST({_YENG} AS DOUBLE) AS y FROM events)
SELECT event_id, x, y FROM pts
WHERE (({_sql_crossings(_POLY)}) + ({_sql_crossings(_HOLE)})) % 2 = 1
"""


# ---------------------------------------------------------------------------
# geo_cell_codec_b32 — both base32 alphabets (NVU adopted; lowercase Geohash
# = the reference's open decision #5) over depth-10 cells: 10 bits = exactly
# two base32 digits, so encode is two native substring lookups per alphabet.
# ---------------------------------------------------------------------------


def g_cell_codec_b32(spark: SparkSession, sf: str) -> DataFrame:
    out = event_cells(spark, sf, 6)
    bits = cells_sql.cell_bits(F.col("cell"))
    hi = F.shiftright(bits, 5).bitwiseAND(F.lit(31))
    lo = bits.bitwiseAND(F.lit(31))
    return out.select(
        "event_id", "cell",
        F.concat(cells_sql.b32_digit(hi), cells_sql.b32_digit(lo)).alias("code_nvu"),
        F.concat(cells_sql.b32_digit(hi, GEOHASH_ALPHABET),
                 cells_sql.b32_digit(lo, GEOHASH_ALPHABET)).alias("code_ghl"),
    )


SQL_CELL_CODEC_B32 = f"""
WITH {cells_cte(_EVENT_XY, 6, ['event_id'])}
SELECT event_id, cell, {b32_code('cell >> 6', 10)} AS code_nvu,
       {b32_code('cell >> 6', 10, GEOHASH_ALPHABET)} AS code_ghl
FROM cells WHERE cell >= 0
"""


# ---------------------------------------------------------------------------
# geo_hilbert_index — the reference's open decision #6 (Morton vs Hilbert)
# as an engine capability: Hilbert index over the depth-12 lattice, native
# Column unrolled rot-swap loop vs an independently-unrolled SQL oracle.
# ---------------------------------------------------------------------------

_HILBERT_R = 8       # depth 12 -> lattice 64 x 80, embedded in 2^7 = 128
_HILBERT_ORDER = 7


def g_hilbert_index(spark: SparkSession, sf: str) -> DataFrame:
    cells = event_cells(spark, sf, _HILBERT_R)
    gy, gx = grid_b_global_ji(F.col("cell"), 4 + _HILBERT_R)
    out = cells_sql.with_hilbert_index(cells, gy, gx, _HILBERT_ORDER)
    return out.select("event_id", "cell", "hd")


def hilbert_iter_sql(order: int, src: str, carry: str,
                     prefix: str = "it") -> tuple[str, str]:
    """The unrolled rot-swap recurrence as a CTE chain (SQL spec mirror of
    functions/cells_sql.with_hilbert_index).  ``src`` must yield columns
    ``({carry,} hx, hy, hd)`` with hd initialized to 0; returns
    ``(joined_cte_fragment, final_cte_name)``.  Single-sourced so every
    oracle that needs a Hilbert index (geo_hilbert_index, scale_ops'
    geo_hilbert_ranges) unrolls the identical arithmetic."""
    n = 1 << order
    cy = f"{carry}, " if carry else ""
    ctes: list[str] = []
    prev = src
    k = 0
    s = n >> 1
    while s > 0:
        k += 1
        ctes.append(f"""{prefix}{k}a AS (
  SELECT {cy}hx, hy, hd,
         CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
         CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
  FROM {prev})""")
        ctes.append(f"""{prefix}{k} AS (
  SELECT {cy}
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {n - 1} - hy ELSE hy END)
              ELSE hx END AS hx,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {n - 1} - hx ELSE hx END)
              ELSE hy END AS hy,
         hd + {s * s} * xor(3 * rx, ry) AS hd
  FROM {prefix}{k}a)""")
        prev = f"{prefix}{k}"
        s >>= 1
    return ",\n".join(ctes), prev


def _sql_hilbert() -> str:
    it0 = """it0 AS (
  SELECT event_id, cell, gi AS hx, gj AS hy, CAST(0 AS BIGINT) AS hd
  FROM cells WHERE cell >= 0)"""
    chain, last = hilbert_iter_sql(_HILBERT_ORDER, "it0", "event_id, cell")
    return (f"WITH {cells_cte(_EVENT_XY, _HILBERT_R, ['event_id'])},\n{it0},\n{chain}"
            + f"\nSELECT event_id, cell, hd FROM {last}")


# ---------------------------------------------------------------------------
# geo_knn_ring_events — B11 with a full SQL oracle: the ring-1 candidate set
# equals the 3x3 lattice neighborhood, which SQL restates as |dgi|<=1 AND
# |dgj|<=1 (ring cells with invalid L0 digits hold no candidates, so the
# enumerated-ring and lattice-box formulations join identical pairs).
# ---------------------------------------------------------------------------

_KNN_R = 6          # depth 10 -> 1,024 cells; ~10 points/cell at sf0.01
_KNN_NQ = 100
_KNN_K = 5


def g_knn_ring_events(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.knn import knn_ring

    cells = event_cells(spark, sf, _KNN_R)
    q = cells.filter(F.col("event_id") < _KNN_NQ).select(
        F.col("event_id").alias("qid"), "x", "y", "cell")
    c = cells.select(F.col("event_id").alias("cid"), "x", "y", "cell")
    return knn_ring(q, c, k=_KNN_K, ring=1, exclude_self=True)


def sql_knn_ring(src: str, pid: str, pick: str, r: int, k: int) -> str:
    """The ring-1 kNN oracle over the points of the SELECT ``src`` (columns
    ``pid``, x, y): encode at refinement ``r``, take the query rows by the
    clause ``pick`` over the grid-valid points, join each to the candidates
    of its 3x3 lattice block and keep the ``k`` nearest (ties by id)."""
    return f"""
WITH {cells_cte(src, r, [pid])},
cc AS (SELECT {pid}, x, y, gi, gj FROM cells WHERE cell >= 0),
q AS (SELECT * FROM cc {pick}),
pairs AS (
  SELECT q.{pid} AS qid, c.{pid} AS cid,
         sqrt((q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y)) AS dist
  FROM q JOIN cc c
    ON abs(q.gi - c.gi) <= 1 AND abs(q.gj - c.gj) <= 1
   AND q.{pid} <> c.{pid})
SELECT qid, cid, round(dist, 3) AS dist, rn FROM (
  SELECT qid, cid, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
  FROM pairs) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# geo_cover_dilate — morphological dilation of a cell cover (ring-1 shell)
# ---------------------------------------------------------------------------


def g_cover_dilate(spark: SparkSession, sf: str) -> DataFrame:
    """Cover dilation: the cell set union its ring-1 neighbors — the buffer/
    search-region expansion that pairs with operators.compact (erosion-side).
    Output rows carry ``is_core`` so the added shell is visible; the grid
    edge is honest (off-grid lattice slots are NOT emitted)."""
    core = event_cells(spark, sf, 4).select("cell").distinct()
    dil = core.select(
        F.explode(ring_cells_udf(1)(F.col("cell"))).alias("cell")).distinct()
    return (dil.join(core.withColumn("is_core", F.lit(True)), "cell", "left")
               .select("cell", F.coalesce("is_core", F.lit(False)).alias("is_core")))


SQL_COVER_DILATE = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
cc AS (SELECT DISTINCT cell, gi, gj FROM cells WHERE cell >= 0),
dil AS (
  SELECT DISTINCT cell FROM (
    SELECT {lattice_cell("cc.gi + d.di", "cc.gj + d.dj", 4)} AS cell
    FROM cc CROSS JOIN {KING} d) WHERE cell >= 0
)
SELECT d.cell, (o.cell IS NOT NULL) AS is_core
FROM dil d LEFT JOIN (SELECT DISTINCT cell FROM cc) o ON d.cell = o.cell
"""


# ---------------------------------------------------------------------------
# geo_cover_erode — morphological erosion (dual of geo_cover_dilate): a
# member cell is INTERIOR iff its full 3x3 king block (self + 8 lattice
# neighbors at the same depth) is made of members; off-grid slots are
# background, so grid-edge members always erode.  Members that are not
# interior are the morphological BOUNDARY (member minus erosion).
#
# Scale shape: one narrow 9x explode of the (already distinct) cover emits
# a vote per in-grid block slot; king adjacency is symmetric and off-grid
# slots are never members, so votes(c) == count of members in c's block —
# one map-side-combined count keyed by cell plus one cell-keyed join back.
# No all-pairs, no window.  The oracle restates it as the abs<=1 self-join
# over the global (gi, gj) lattice coordinates.
# ---------------------------------------------------------------------------


def g_cover_erode(spark: SparkSession, sf: str) -> DataFrame:
    core = (event_cells(spark, sf, 4).select("cell").distinct()
               .localCheckpoint(eager=True))  # two consumers: votes + join back
    votes = (core.select(F.explode(ring_cells_udf(1)(F.col("cell"))).alias("nb"))
                 .groupBy("nb").agg(F.count("*").alias("n")))
    return (core.join(votes, core["cell"] == votes["nb"])  # self-vote => inner always matches
                .select("cell", (F.col("n") == 9).alias("is_interior"))
                .orderBy("cell"))


SQL_COVER_ERODE = f"""
WITH {cells_cte(_EVENT_XY, 4, ['event_id'])},
cc AS (SELECT DISTINCT cell, gi, gj FROM cells WHERE cell >= 0),
er AS (
  SELECT a.cell, count(*) AS n
  FROM cc a JOIN cc b
    ON abs(a.gi - b.gi) <= 1 AND abs(a.gj - b.gj) <= 1
  GROUP BY 1
)
SELECT cell, (n = 9) AS is_interior FROM er ORDER BY cell
"""


_GRIDLIB_ASSERTS = [
    ("geo:3.46103000261,-76.57770034945", "GF1ZDW6NY"),
    ("geo:3.46103208489,-76.57391243547", "GF1ZSNQV7"),
    ("geo:3.45834677198,-76.57390575999", "GF1ZLKNU4"),
    ("geo:3.45834677198,-76.57770076667", "GF1Z6T4KC"),
    ("geo:4.711111,-74.072222", "HX7VGYKPW"),
]


def g_gridlib_asserts(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's OWN test suite as an engine query: the five
    osmcode_encode assert vectors (/root/reference/src/assert/
    gridLib.sql:6-11) encoded + decode-roundtripped on the Spark surface.

    Every row must have match=true and contain=true; the stale area asserts
    (gridLib.sql:15-16) are replaced by the self-consistent cell area
    2^(41-45-ish) per SURVEY.md §5.1 (documented reference defect).
    """
    df = spark.createDataFrame(_GRIDLIB_ASSERTS, ["uri", "expected"])
    enc = df.withColumn("code", geo.encode_a_from_uri(F.col("uri")))
    dec = enc.withColumn("ctr", geo.decode_a_center(F.col("code")))
    back = dec.withColumn("recode", geo.encode_a(F.col("ctr.lat"), F.col("ctr.lon"), 9))
    return back.select(
        "uri", "code", "expected",
        (F.col("code") == F.col("expected")).alias("match"),
        (F.col("recode") == F.col("code")).alias("roundtrip"),
    ).orderBy("uri")


SQL_GRIDLIB_ASSERTS = """
SELECT uri, expected AS code, expected, true AS match, true AS roundtrip
FROM (VALUES """ + ", ".join(
    f"('{u}', '{c}')" for u, c in _GRIDLIB_ASSERTS) + """) t(uri, expected)
ORDER BY uri
"""


def _montanitas_ring_xy() -> np.ndarray:
    """The reference's montañitas LineString, forward-projected to EPSG:9377
    (/root/reference/data/montañitas.geojson:1; closed 4-corner ring)."""
    import json
    import os

    from ..grid import proj
    from ..sources.reference_data import REF_DIR

    with open(os.path.join(REF_DIR, "data", "montañitas.geojson"),
              encoding="utf-8") as f:
        gj = json.load(f)
    coords = np.asarray(gj["features"][0]["geometry"]["coordinates"],
                        dtype=np.float64)
    x, y = proj.forward(coords[:, 1], coords[:, 0])
    return np.stack([x, y], axis=1)


def g_montanitas_ring(spark: SparkSession, sf: str) -> DataFrame:
    """The montañitas fixture end-to-end: the ring's four corners ARE the
    gridLib assert points (/root/reference/src/assert/gridLib.sql:6-9 lists
    the same coordinates as montañitas.geojson), so per corner this emits

    * ``code`` — Grid A osmcode_encode (A8 engine kernel), pinned by the
      VALUES oracle to the reference's expected codes;
    * ``inset_inside`` — the corner nudged 25% toward the ring centroid is
      strictly inside (A20 PIP; the corners themselves sit ON the boundary,
      where even-odd crossing parity is undefined);
    * ``covered`` — the corner's depth-30 Grid B cell descends from a cell
      of polygon_cover(ring) (§3.2 cover production x A13/A15 hierarchy
      algebra, native cell_contains against the broadcast cover).
    """
    from ..operators.cover_gen import polygon_cover
    from ..operators.pip import pip_udf

    ring = _montanitas_ring_xy()
    ctr_x, ctr_y = (float(v) for v in ring[:-1].mean(axis=0))
    pts = spark.createDataFrame(_GRIDLIB_ASSERTS[:4], ["uri", "expected"])
    p = pts.select(
        "uri", geo.encode_a_from_uri(F.col("uri")).alias("code"),
        geo.geo_uri_lat(F.col("uri")).alias("lat"),
        geo.geo_uri_lon(F.col("uri")).alias("lon"))
    p = p.withColumn("xy", geo.latlon_to_xy(F.col("lat"), F.col("lon")))
    p = p.withColumn(
        "inset_inside",
        pip_udf([ring])(F.col("xy.x") * 0.75 + F.lit(ctr_x) * 0.25,
                        F.col("xy.y") * 0.75 + F.lit(ctr_y) * 0.25))
    p = p.withColumn("cell30",
                     geo.xy_to_cell_b(F.col("xy.x"), F.col("xy.y"), 26))
    # single-level cover (ONE clip pass over the 4096 depth-12 cells) keeps
    # the correctness-path cost in driver budget: border cells at max_depth
    # stay in the cover, so ``covered`` is refinement-depth-invariant; the
    # deep iterative refinement (8..28) is exercised by the pytest
    # (tests/test_cover_sql.py::test_montanitas_cover_and_pip)
    cov = polygon_cover(spark, ring, base_depth=12, max_depth=12) \
        .select(F.col("cell").alias("cover_cell"))
    hit = p.join(F.broadcast(cov),
                 cells_sql.cell_contains(F.col("cover_cell"), F.col("cell30")),
                 "left")
    return (hit.groupBy("uri", "code", "inset_inside")
            .agg((F.count("cover_cell") > 0).alias("covered"))
            .orderBy("uri"))


SQL_MONTANITAS_RING = """
SELECT uri, expected AS code, true AS inset_inside, true AS covered
FROM (VALUES """ + ", ".join(
    f"('{u}', '{c}')" for u, c in _GRIDLIB_ASSERTS[:4]) + """) t(uri, expected)
ORDER BY uri
"""


QUERIES = {
    "geo_gridlib_asserts": (g_gridlib_asserts, SQL_GRIDLIB_ASSERTS),
    "geo_montanitas_ring": (g_montanitas_ring, SQL_MONTANITAS_RING),
    "geo_pip_holes": (g_pip_holes, SQL_PIP_HOLES),
    "geo_polygon_cover": (g_polygon_cover, _sql_polygon_cover()),
    "geo_coverage_clip": (g_coverage_clip, _sql_coverage_clip()),
    "geo_shortcode": (g_shortcode, _sql_shortcode()),
    "geo_knn_ring_events": (g_knn_ring_events, sql_knn_ring(
        _EVENT_XY, "event_id", f"WHERE event_id < {_KNN_NQ}", _KNN_R, _KNN_K)),
    "geo_hilbert_index": (g_hilbert_index, _sql_hilbert()),
    "geo_cell_codec_b32": (g_cell_codec_b32, SQL_CELL_CODEC_B32),
    "geo_parent_rollup": (g_parent_rollup, SQL_PARENT_ROLLUP),
    "geo_children": (g_children, SQL_CHILDREN),
    "geo_neighbors": (g_neighbors, SQL_NEIGHBORS),
    "geo_cover_dilate": (g_cover_dilate, SQL_COVER_DILATE),
    "geo_cover_erode": (g_cover_erode, SQL_COVER_ERODE),
    "geo_cell_box": (g_cell_box, SQL_CELL_BOX),
    "geo_cell_codec": (g_cell_codec, SQL_CELL_CODEC),
    "geo_grid_generate": (g_grid_generate, SQL_GRID_GENERATE),
    "geo_pip_poly": (g_pip_poly, SQL_PIP),
}
