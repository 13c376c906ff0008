"""Driver-oracle-checked cover lookup + short codes over the REAL reference
dims (A21/A22/A23), closing the rows-only gap for the cover/abbrev family.

The pages-based cover entries (geospatial.g_cover_lookup, geo_algebra.
g_shortcode) stay rows-only because synthetic pages aren't visible to the
oracle.  Here the points derive from ``events`` with power-of-two-exact
arithmetic (same trick as geo_algebra), and the oracle restates EVERYTHING
in DuckDB SQL — including parsing /root/reference/data/citycover.csv and
synonym.csv via read_csv and re-deriving the base16h / base32nvu string
grammar — so the cover prefix-join, the abbreviation dim and both shortcode
codecs are value-checked end to end against an independent implementation.

Short-code semantics (/root/reference/README.md "Códigos abreviados",
conf.yaml:29-34): the jurisdiction's cover cell is the context prefix; the
code is ``abbrev <sep> suffix`` where suffix re-encodes the point cell's
bits below the prefix.  Two registered forms:

* scientific — ``sci_sep '+'``, base16h suffix (conf.yaml:29-30);
* logistic  — ``log_sep '-'``, base32nvu suffix (conf.yaml:33-34).  base32
  carries 5 bits/char, so the point cell is truncated to the deepest
  ancestor whose suffix length is a multiple of 5 (deterministic, and the
  code round-trips exactly to that aligned cell — pytest-gated in
  tests/test_geo_algebra.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells_sql, geo
from ..grid import grids
from ..operators.cover import cover_anti, cover_best_with_cell, cover_lookup_best
from ..sources.reference_data import load_citycover, load_synonym, load_synonym_ref
from .geospatial import _EVENT_XY, _XENG, _YENG, _event_points, event_cells
from .sql_grid import (
    b16h_code,
    b16h_suffix,
    b32_code,
    cells_cte,
    dbl,
    hex_digit,
    l0_i_case,
    l0_j_case,
    morton_deref_x,
    morton_deref_y,
)

_PT_R = 26            # refinement bits -> point depth 30 (> max cover depth 22)
_PT_DEPTH = 4 + _PT_R
X0, Y0, SIDE = grids.L0_ORIGIN_X, grids.L0_ORIGIN_Y, grids.L0_SIDE

# single-sourced with the Spark-side loaders (sources/reference_data.REF_DIR),
# so an env override moves BOTH sides of every cover oracle pair together
from ..sources.reference_data import REF_DIR as _REF_DIR  # noqa: E402

_REF_DATA = f"{_REF_DIR}/data"

# -- DuckDB-side decode of citycover.csv codes (base16h -> bits/depth) -------


def _sql_csv_decode(col: str, alias: str) -> str:
    """CTE chain decoding citycover.csv column ``col`` ('cover'|'overlay')
    into ``alias``(isolabel_ext, cbits, cdepth) — the full base16h grammar
    incl. all three suffix-letter families and the literal NULL token of
    citycover.csv:325."""
    snb, sval = b16h_suffix("right(code, 1)")
    return f"""
{alias}raw AS (
  SELECT isolabel_ext, unnest(string_split({col}, ' ')) AS code
  FROM read_csv('{_REF_DATA}/citycover.csv', header=true, all_varchar=true)
),
{alias}c AS (SELECT isolabel_ext, code FROM {alias}raw
             WHERE code <> '' AND code <> 'NULL'),
{alias}dec AS (
  SELECT isolabel_ext, code,
    {snb} AS snb, {sval} AS sval
  FROM {alias}c
),
{alias} AS (
  SELECT isolabel_ext, code,
    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(
         string_split(substring(code, 1, length(code)
                                - CASE WHEN snb > 0 THEN 1 ELSE 0 END), ''),
         ch -> {hex_digit("ch")})),
       (a, b) -> a * 16 + b) << snb) | sval AS cbits,
    (length(code) - CASE WHEN snb > 0 THEN 1 ELSE 0 END) * 4 + snb AS cdepth
  FROM {alias}dec
)"""


def cover_hits_cte(points: str, keys: list[str], cover: str, pdepth) -> str:
    """CTE chain ``deps -> panc -> hits``: the prefix cover join, the SQL
    restatement of operators.cover's per-depth lookup.  ``points`` names a
    CTE with the columns ``keys`` and ``pbits`` (the point cell's bits at
    depth ``pdepth``, a literal or one of ``keys``); ``cover`` names a CTE
    with ``cbits`` and ``cdepth``.  ``hits`` holds ``keys``, ``pbits`` and
    every ``cover`` column, one row per cover cell that is a prefix of the
    point; each caller reduces it to its own ``best``."""
    cols = ", ".join(f"p.{k}" for k in keys)
    return f"""
deps AS (SELECT DISTINCT cdepth FROM {cover}),
panc AS (
  SELECT {cols}, p.pbits, d.cdepth, p.pbits >> ({pdepth} - d.cdepth) AS anc
  FROM {points} p CROSS JOIN deps d WHERE d.cdepth <= {pdepth}
),
hits AS (
  SELECT {cols}, p.pbits, c.*
  FROM panc p JOIN {cover} c ON p.cdepth = c.cdepth AND p.anc = c.cbits
)"""


_SQL_COV = f"""
{_sql_csv_decode("cover", "covbits")},
cov AS (
  -- cover_idx: rank by packed cell id within the jurisdiction (the role of
  -- the CSV's unpopulated cover_order column); mirrors _cover_index_dim
  SELECT isolabel_ext, cbits, cdepth,
         row_number() OVER (PARTITION BY isolabel_ext
                            ORDER BY cbits * 64 + cdepth) - 1 AS cidx
  FROM covbits
),
pcell AS (SELECT event_id, cell >> 6 AS pbits FROM cells WHERE cell >= 0),
{cover_hits_cte("pcell", ["event_id"], "cov", _PT_DEPTH)}
"""

# default abbreviation dim: exactly one default row per isolabel (verified:
# 1,116 = 1,116 distinct), with its provenance id
_SQL_SYN = f"""
syn AS (
  SELECT isolabel_ext, abbrev, CAST(abbrevref_id AS BIGINT) AS abbrevref_id
  FROM read_csv('{_REF_DATA}/synonym.csv', header=true, all_varchar=true)
  WHERE default_abbrev = 't'
),
synref AS (
  SELECT CAST(abbrevref_id AS BIGINT) AS abbrevref_id, name AS ref_name
  FROM read_csv('{_REF_DATA}/synonym_ref.csv', header=true, all_varchar=true)
)
"""


def _default_syn(spark: SparkSession) -> DataFrame:
    syn = load_synonym(spark).filter(F.col("default_abbrev"))
    ref = load_synonym_ref(spark).select("abbrevref_id",
                                         F.col("name").alias("ref_name"))
    return (syn.select("isolabel_ext", "abbrev", "abbrevref_id")
            .join(F.broadcast(ref), "abbrevref_id", "left"))


# ---------------------------------------------------------------------------
# geo_cover_lookup_events — A21 with a full SQL oracle (CSV decoded in SQL)
# ---------------------------------------------------------------------------


def g_cover_lookup_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-municipality point counts via the per-depth cover lookup kernel,
    value-checked against the SQL restatement of the same prefix algebra."""
    cells = event_cells(spark, sf, _PT_R)
    hit = cover_lookup_best(cells, load_citycover(spark), keep=["event_id"],
                            dedup=False)
    return hit.groupBy("isolabel_ext").agg(
        F.count("*").alias("n_points"), F.min("event_id").alias("min_ev"))


SQL_COVER_LOOKUP_EVENTS = f"""
WITH {cells_cte(_EVENT_XY, _PT_R, ['event_id'])},
{_SQL_COV},
best AS (
  SELECT event_id, min(isolabel_ext) AS isolabel_ext FROM hits GROUP BY event_id
)
SELECT isolabel_ext, count(*) AS n_points, min(event_id) AS min_ev
FROM best GROUP BY isolabel_ext
"""


# ---------------------------------------------------------------------------
# geo_shortcode_sci — A23 scientific form ('+', base16h), SQL-oracle-checked
# ---------------------------------------------------------------------------


def _best_cover(cells: DataFrame, spark: SparkSession,
                cell_col: str = "cell") -> DataFrame:
    """Deepest cover cell per point + abbrev/provenance dims — the
    shuffle-free operators.cover.cover_best_with_cell plan."""
    out = cover_best_with_cell(cells, load_citycover(spark), cell_col)
    return out.join(F.broadcast(_default_syn(spark)), "isolabel_ext", "left")


def g_shortcode_sci(spark: SparkSession, sf: str) -> DataFrame:
    best = _best_cover(event_cells(spark, sf, _PT_R), spark)
    cdepth = F.col("cover_cell").bitwiseAND(F.lit(63))
    nsfx = (F.lit(_PT_DEPTH) - cdepth).cast("int")
    sfx_bits = cells_sql.cell_low_bits(F.col("cell"), nsfx)
    code = F.concat(F.coalesce(F.col("abbrev"), F.col("isolabel_ext")),
                    F.lit("+"), geo.b16h_string(sfx_bits, nsfx))
    return best.select("event_id", "isolabel_ext", code.alias("shortcode"))


_SQL_BEST_COVER = f"""
best AS (
  SELECT event_id, pbits, isolabel_ext, cdepth, cidx FROM (
    SELECT event_id, pbits, isolabel_ext, cdepth, cidx,
           row_number() OVER (PARTITION BY event_id
                              ORDER BY cdepth DESC, isolabel_ext) AS rn
    FROM hits) WHERE rn = 1
),
withsyn AS (
  SELECT b.*, s.abbrev, s.abbrevref_id FROM best b
  LEFT JOIN syn s ON b.isolabel_ext = s.isolabel_ext
)
"""

SQL_SHORTCODE_SCI = f"""
WITH {cells_cte(_EVENT_XY, _PT_R, ['event_id'])},
{_SQL_COV},
{_SQL_SYN},
{_SQL_BEST_COVER},
sfxd AS (
  SELECT event_id, isolabel_ext, coalesce(abbrev, isolabel_ext) AS ab,
         {_PT_DEPTH} - cdepth AS nsfx,
         pbits & ((CAST(1 AS BIGINT) << ({_PT_DEPTH} - cdepth)) - 1) AS sfx
  FROM withsyn)
SELECT event_id, isolabel_ext, ab || '+' || {b16h_code('sfx', 'nsfx')} AS shortcode
FROM sfxd
"""


# ---------------------------------------------------------------------------
# geo_shortcode_log — A23 logistic form ('-', base32nvu), SQL-oracle-checked
# ---------------------------------------------------------------------------


def _cover_index_dim(spark: SparkSession) -> DataFrame:
    """(isolabel_ext, cover_cell) -> cover_idx: the cell's rank (0-based, by
    cell id) within its jurisdiction's cover list.

    citycover.csv carries a ``cover_order`` column for exactly this
    disambiguation role but ships it unpopulated, so the order is derived
    deterministically; max cover size in the fixture is 30 < 32, so one
    base32nvu digit addresses any cover cell.
    """
    cov = load_citycover(spark).filter(F.col("kind") == "cover")
    w = Window.partitionBy("isolabel_ext").orderBy("cell")
    return cov.select(
        "isolabel_ext", F.col("cell").alias("cover_cell"),
        (F.row_number().over(w) - 1).alias("cover_idx"))


def g_shortcode_log(spark: SparkSession, sf: str) -> DataFrame:
    """Logistic short code ``abbrev-<idx><suffix>``: one base32nvu digit
    indexing WHICH cover cell is the prefix (suffix bits alone are ambiguous
    across a jurisdiction's 2..30 cover cells), then the point truncated to
    the deepest 5-bit-aligned suffix depth above that prefix, in base32nvu.
    Emits the aligned cell so the oracle (and the round-trip pytest) pin the
    exact cell the code decodes back to, plus the abbreviation provenance
    (synonym_ref.csv) the scientific form doesn't exercise."""
    best = _best_cover(event_cells(spark, sf, _PT_R), spark)
    best = best.join(F.broadcast(_cover_index_dim(spark)),
                     ["isolabel_ext", "cover_cell"])
    cdepth = F.col("cover_cell").bitwiseAND(F.lit(63))
    nsfx5 = ((F.lit(_PT_DEPTH) - cdepth) - F.pmod(F.lit(_PT_DEPTH) - cdepth,
                                                  F.lit(5))).cast("int")
    dpa = (cdepth + nsfx5).cast("int")
    cell_a = cells_sql.cell_ancestor_at(F.col("cell"), dpa)
    sfx_bits = cells_sql.cell_low_bits(cell_a, nsfx5)
    idx_char = cells_sql.b32_digit(F.col("cover_idx"))
    code = F.concat(F.coalesce(F.col("abbrev"), F.col("isolabel_ext")),
                    F.lit("-"), idx_char, geo.b32nvu_string(sfx_bits, nsfx5))
    return best.select(
        "event_id", "isolabel_ext", code.alias("shortcode"),
        cell_a.alias("cell_aligned"),
        F.coalesce(F.col("ref_name"), F.lit("")).alias("abbrev_source"))


SQL_SHORTCODE_LOG = f"""
WITH {cells_cte(_EVENT_XY, _PT_R, ['event_id'])},
{_SQL_COV},
{_SQL_SYN},
{_SQL_BEST_COVER},
aligned AS (
  SELECT event_id, isolabel_ext, coalesce(abbrev, isolabel_ext) AS ab,
         coalesce(r.ref_name, '') AS abbrev_source, cidx,
         ({_PT_DEPTH} - cdepth) - (({_PT_DEPTH} - cdepth) % 5) AS nsfx,
         cdepth + ({_PT_DEPTH} - cdepth) - (({_PT_DEPTH} - cdepth) % 5) AS dpa,
         pbits FROM withsyn LEFT JOIN synref r USING (abbrevref_id)),
sfxd AS (
  SELECT event_id, isolabel_ext, ab, abbrev_source, nsfx, cidx,
         (pbits >> ({_PT_DEPTH} - dpa)) AS abits, dpa,
         (pbits >> ({_PT_DEPTH} - dpa))
           & ((CAST(1 AS BIGINT) << nsfx) - 1) AS sfx
  FROM aligned)
SELECT event_id, isolabel_ext,
       ab || '-' || {b32_code('cidx', 5)} || {b32_code('sfx', 'nsfx')} AS shortcode,
       abits * 64 + dpa AS cell_aligned, abbrev_source
FROM sfxd
"""


# ---------------------------------------------------------------------------
# geo_cover_set_ops — B18 over the reference dims, now SQL-oracle-checked:
# the oracle re-derives both cell sets from the raw CSV and restates the
# per-municipality counts + intersection.
# ---------------------------------------------------------------------------

SQL_COVER_SET_OPS = f"""
WITH {_sql_csv_decode("cover", "covd")},
{_sql_csv_decode("overlay", "ovd")},
isos AS (
  SELECT DISTINCT isolabel_ext FROM (
    SELECT isolabel_ext FROM covd UNION ALL SELECT isolabel_ext FROM ovd)
),
c AS (SELECT isolabel_ext, count(DISTINCT cbits * 64 + cdepth) AS n_cover
      FROM covd GROUP BY 1),
o AS (SELECT isolabel_ext, count(DISTINCT cbits * 64 + cdepth) AS n_overlay
      FROM ovd GROUP BY 1),
s AS (SELECT a.isolabel_ext,
             count(DISTINCT a.cbits * 64 + a.cdepth) AS n_shared
      FROM covd a JOIN ovd b
        ON a.isolabel_ext = b.isolabel_ext
       AND a.cbits = b.cbits AND a.cdepth = b.cdepth
      GROUP BY 1)
SELECT i.isolabel_ext,
       CAST(coalesce(c.n_cover, 0) AS INT) AS n_cover,
       CAST(coalesce(o.n_overlay, 0) AS INT) AS n_overlay,
       CAST(coalesce(s.n_shared, 0) AS INT) AS n_shared
FROM isos i
LEFT JOIN c USING (isolabel_ext)
LEFT JOIN o USING (isolabel_ext)
LEFT JOIN s USING (isolabel_ext)
ORDER BY n_cover DESC, i.isolabel_ext LIMIT 100
"""


def g_cover_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """B18 over the reference dims: per-municipality cover/overlay set
    algebra (sizes, intersections) — array_intersect on collected cell sets.
    Oracle-checked via SQL_COVER_SET_OPS (which re-decodes the raw CSV in
    SQL); parser counts additionally pytest-gated in
    test_operators.test_citycover_parse."""
    cov = load_citycover(spark)
    per = cov.groupBy("isolabel_ext").pivot("kind", ["cover", "overlay"]) \
             .agg(F.collect_set("cell"))
    return per.select(
        "isolabel_ext",
        F.size(F.coalesce(F.col("cover"), F.array())).alias("n_cover"),
        F.size(F.coalesce(F.col("overlay"), F.array())).alias("n_overlay"),
        F.size(F.array_intersect(
            F.coalesce(F.col("cover"), F.array()),
            F.coalesce(F.col("overlay"), F.array()))).alias("n_shared"),
    ).orderBy(F.col("n_cover").desc(), "isolabel_ext").limit(100)


# ---------------------------------------------------------------------------
# geo_seat_cells — A22 with a full SQL oracle: the overlay CSV grammar is
# decoded in SQL AND the y-first Morton refinement bits are de-interleaved in
# SQL (sql_grid.morton_deref_*, the textual inverse of morton_ref), yielding
# the seat half-cell's EPSG:9377 lattice center.  Every overlay in
# citycover.csv is depth 17; a different depth would make the fixed-shape
# de-interleave below produce a different center and fail the hash loudly.
# ---------------------------------------------------------------------------

_SEAT_R = 13  # overlay depth 17 = 4 L0 bits + 13 refinement bits
_SEAT_NY, _SEAT_NX = (_SEAT_R + 1) // 2, _SEAT_R // 2
_SEAT_DY = SIDE / (1 << _SEAT_NY)  # 4096 m (exact power of two)
_SEAT_DX = SIDE / (1 << _SEAT_NX)  # 8192 m

SQL_SEAT_CELLS = f"""
WITH {_sql_csv_decode("overlay", "ovd")},
g AS (
  SELECT isolabel_ext, code AS seat_code, cdepth AS depth,
         cbits >> {_SEAT_R} AS digit,
         cbits & {(1 << _SEAT_R) - 1} AS rb
  FROM ovd
),
ji AS (
  SELECT isolabel_ext, seat_code, depth,
         {l0_j_case()} AS j, {l0_i_case()} AS i,
         {morton_deref_y(_SEAT_R)} AS iy, {morton_deref_x(_SEAT_R)} AS ix
  FROM g
)
SELECT isolabel_ext, seat_code,
       {dbl(X0)} + (i * {1 << _SEAT_NX} + ix) * {dbl(_SEAT_DX)}
                + {dbl(_SEAT_DX / 2)} AS cx,
       {dbl(Y0)} + (j * {1 << _SEAT_NY} + iy) * {dbl(_SEAT_DY)}
                + {dbl(_SEAT_DY / 2)} AS cy,
       depth, TRUE AS roundtrip_ok
FROM ji
ORDER BY isolabel_ext, seat_code
"""


def g_seat_cells(spark: SparkSession, sf: str) -> DataFrame:
    """A22: per-municipality seat overlay cells decoded to EPSG:9377 centers.

    Every non-empty ``overlay`` in citycover.csv is the municipality seat's
    half-cell, uniformly depth 17 = 4 hex chars + one 1-bit suffix letter
    (verified over the whole CSV — SURVEY §2.A22).  Emits the planar lattice
    center (pure de-interleave math, SQL-expressible) so the oracle
    (SQL_SEAT_CELLS) can re-decode the CSV grammar AND the y-first Morton
    bits in DuckDB; the WGS84 center itself is not
    SQL-expressible (inverse TM), so it is pinned by ``roundtrip_ok``:
    inverse->forward TM must return to the planar center within 1e-6 m
    (plus the bit-exact pytest on the inverse kernel).
    """
    ov = load_citycover(spark).filter(F.col("kind") == "overlay")
    ctr = ov.withColumn("c", geo.cell_b_center(F.col("cell")))
    ll = ctr.withColumn("ll", geo.xy_to_latlon(F.col("c.x"), F.col("c.y")))
    rt = ll.withColumn("xy2", geo.latlon_to_xy(F.col("ll.lat"), F.col("ll.lon")))
    return rt.select(
        "isolabel_ext", F.col("code").alias("seat_code"),
        F.col("c.x").alias("cx"), F.col("c.y").alias("cy"),
        (F.col("cell").bitwiseAND(F.lit(63))).alias("depth"),
        ((F.abs(F.col("xy2.x") - F.col("c.x")) < 1e-6)
         & (F.abs(F.col("xy2.y") - F.col("c.y")) < 1e-6)).alias("roundtrip_ok"),
    ).orderBy("isolabel_ext", "seat_code")


def g_cover_anti(spark: SparkSession, sf: str) -> DataFrame:
    """B10 spatially: grid-valid points covered by NO jurisdiction, rolled up
    per L0 — uncovered-territory detection.  Zero fact-table shuffle
    (operators.cover.cover_anti keeps the unmatched rows of the same
    per-depth lookup kernel)."""
    cells = event_cells(spark, sf, _PT_R)
    un = cover_anti(cells, load_citycover(spark), keep=["event_id", "cell"])
    return un.groupBy(cells_sql.cell_l0_digit(F.col("cell")).alias("l0")).agg(
        F.count("*").alias("n_uncovered"), F.min("event_id").alias("min_ev"))


SQL_COVER_ANTI = f"""
WITH {cells_cte(_EVENT_XY, _PT_R, ['event_id'])},
{_SQL_COV}
SELECT ((cells.cell >> 6) >> {_PT_R}) AS l0,
       CAST(count(*) AS BIGINT) AS n_uncovered,
       min(cells.event_id) AS min_ev
FROM cells
WHERE cells.cell >= 0
  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.event_id = cells.event_id)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# geo_cover_suffix_probe — all FOUR base16h suffix families (plain hex,
# G/Q 1-bit, H/M/R/V 2-bit, J..Z 3-bit) exercised through the real per-depth
# cover lookup.  The synthetic events only ever land in depth-7/12/17
# covers, so the 2-bit family (e.g. CO-ANT-Sabaneta, citycover.csv:99 — all
# 25 cells are 5-hex+2-bit) was previously pytest-only.  Probe points sit at
# cover-cell centers; the center of a depth-d cell encodes at depth 30 as
# (cbits << (30-d)) | (0b11 << (28-d)) — verified bit-exact for all 14,165
# cover cells — so the oracle can re-derive the exact same probes from the
# raw CSV and restate the deepest-match scan with no floating point at all.
# ---------------------------------------------------------------------------

_PROBE_CAP = 50  # cap the populous depths (12, 17); 7 and 22 run complete


def g_cover_suffix_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Probe points at cover-cell centers of every suffix family, resolved
    against the FULL dims via cover_best_with_cell (per-depth lookup
    kernel, zero fact shuffle).  ``sf`` is unused: the probe set derives from
    the reference dims alone (same registry signature as every entry)."""
    import numpy as np
    import pandas as pd

    from ..grid import cells as ncells
    from ..sources.reference_data import _cover_pdf

    pdf = _cover_pdf()
    cov = pdf[pdf.kind == "cover"].sort_values(["cell", "isolabel_ext"])
    parts = []
    for d, grp in cov.groupby("depth"):
        parts.append(grp if d in (7, 22) else grp.head(_PROBE_CAP))
    sel = pd.concat(parts)
    ids = sel["cell"].to_numpy(np.int64)
    cx, cy = ncells.cell_b_center(ids)
    probe = spark.createDataFrame(pd.DataFrame({
        "code": sel["code"].to_numpy(dtype=object),
        "src_iso": sel["isolabel_ext"].to_numpy(dtype=object),
        "src_cell": ids, "x": cx, "y": cy}))
    enc = probe.withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"),
                                                    _PT_R))
    hit = cover_best_with_cell(enc, load_citycover(spark), "cell")
    return hit.select(
        "code", "src_iso",
        F.col("src_cell").bitwiseAND(F.lit(63)).cast("int").alias("src_depth"),
        "isolabel_ext",
        F.col("cover_cell").bitwiseAND(F.lit(63)).cast("int")
         .alias("match_depth"),
        (F.col("cover_cell") == F.col("src_cell")).alias("exact_cell"))


SQL_COVER_SUFFIX_PROBE = f"""
WITH {_sql_csv_decode("cover", "covbits")},
dim AS (  -- per-(cell,depth) min-iso dim, mirroring cover_best_with_cell
  SELECT cbits, cdepth, min(isolabel_ext) AS iso
  FROM covbits GROUP BY 1, 2),
sel AS (
  SELECT isolabel_ext AS src_iso, code, cbits, cdepth,
         row_number() OVER (PARTITION BY cdepth
                            ORDER BY cbits, isolabel_ext) AS rn
  FROM covbits),
probe AS (
  SELECT code, src_iso, cdepth AS src_depth, cbits AS src_bits,
         (cbits << ({_PT_DEPTH} - cdepth))
           | (CAST(3 AS BIGINT) << ({_PT_DEPTH - 2} - cdepth)) AS pbits
  FROM sel WHERE cdepth IN (7, 22) OR rn <= {_PROBE_CAP}),
{cover_hits_cte("probe", ["code", "src_iso", "src_depth", "src_bits"], "dim", _PT_DEPTH)},
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY code, src_iso
                                 ORDER BY cdepth DESC) AS rn2
    FROM hits) WHERE rn2 = 1)
SELECT code, src_iso, CAST(src_depth AS INT) AS src_depth,
       iso AS isolabel_ext, CAST(cdepth AS INT) AS match_depth,
       (cdepth = src_depth AND cbits = src_bits) AS exact_cell
FROM best
"""


def g_cover_pyds_scan(spark, sf):
    """Custom Python data source surface (PySpark 4 DataSource V2): scan the
    citycover grammar through `spark.read.format("citycover")` — N byte-range
    partitions parsed executor-side (sources/pyds.py) — and roll up per
    municipality.  The oracle re-derives the same explode from the raw CSV in
    DuckDB, so a mis-split byte range (line lost or double-read at a
    partition boundary) breaks the hash."""
    from ..sources.pyds import CityCoverDataSource

    spark.dataSource.register(CityCoverDataSource)
    df = (spark.read.format("citycover").option("numPartitions", "8").load())
    return (df.groupBy("isolabel_ext")
              .agg(F.sum(F.when(F.col("kind") == "cover", 1).otherwise(0))
                   .alias("n_cover"),
                   F.sum(F.when(F.col("kind") == "overlay", 1).otherwise(0))
                   .alias("n_overlay"),
                   F.countDistinct("code").alias("n_codes"))
              .orderBy("isolabel_ext"))


SQL_COVER_PYDS_SCAN = f"""
WITH raw AS (
  SELECT isolabel_ext, kind, unnest(string_split(val, ' ')) AS code
  FROM (
    SELECT isolabel_ext, 'cover' AS kind, cover AS val
    FROM read_csv('{_REF_DATA}/citycover.csv', header=true, all_varchar=true)
    UNION ALL
    SELECT isolabel_ext, 'overlay', overlay
    FROM read_csv('{_REF_DATA}/citycover.csv', header=true, all_varchar=true))
), ex AS (SELECT * FROM raw WHERE code <> '' AND code <> 'NULL')
SELECT isolabel_ext,
       CAST(sum(CASE WHEN kind = 'cover' THEN 1 ELSE 0 END) AS BIGINT) AS n_cover,
       CAST(sum(CASE WHEN kind = 'overlay' THEN 1 ELSE 0 END) AS BIGINT) AS n_overlay,
       CAST(count(DISTINCT code) AS BIGINT) AS n_codes
FROM ex GROUP BY isolabel_ext ORDER BY isolabel_ext
"""


# ---------------------------------------------------------------------------
# geo_zonal_stats — raster -> vector zonal statistics (the canonical
# raster<->vector analysis op): per-cell event raster aggregated into
# jurisdiction zones by the cell-CENTER rule (the standard GIS rasterization
# rule), zones resolved through the same per-depth cover lookup kernel as
# A21.  Reference semantics: the jurisdiction covers of
# /root/reference/data/citycover.csv are the zone layer.
#
# Plan shape at 100 TB: the ONLY fact-sized exchange is the raster build —
# one groupBy (gi, gj) with map-side partial aggregation (a dense hot cell
# collapses mapper-side).  Everything after operates on the raster (bounded
# by the occupied-cell count, << points): one Arrow crossing encodes the
# 16,384 m cell centers at depth 30, the zone lookup is per-depth BROADCAST
# left joins (zero raster shuffle), and the zonal agg shuffles only
# (zone, stats) rows.  Values are integer cents so every engine sums exactly.
# ---------------------------------------------------------------------------

_Z_RBITS = 10                 # 32x32 sub-L0 -> 16,384 m raster cells
_Z_NS = 1 << (_Z_RBITS // 2)  # 32 per axis
_Z_S = SIDE / _Z_NS           # 16384.0 m — exact power of two


def g_zonal_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Zonal statistics of the event-value raster per jurisdiction."""
    pts = _event_points(spark, sf, extra=("value",))
    g = pts.select(
        F.floor((F.col("x") - X0) / _Z_S).cast("long").alias("gi"),
        F.floor((F.col("y") - Y0) / _Z_S).cast("long").alias("gj"),
        F.round(F.col("value") * 100).cast("long").alias("v"))
    occ = g.groupBy("gi", "gj").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"))
    ctr = occ.select(
        "gi", "gj", "n", "sv",
        (F.lit(X0) + F.col("gi") * _Z_S + _Z_S / 2).alias("cx"),
        (F.lit(Y0) + F.col("gj") * _Z_S + _Z_S / 2).alias("cy"))
    rast = (ctr.withColumn("cell",
                           geo.xy_to_cell_b(F.col("cx"), F.col("cy"), _PT_R))
               .filter(F.col("cell") >= 0))
    zoned = cover_lookup_best(rast, load_citycover(spark),
                              keep=["gi", "gj", "n", "sv"], dedup=False)
    agg = zoned.groupBy("isolabel_ext").agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("n_events"),
        F.sum("sv").alias("sum_cents"))
    return (agg.select(
                "isolabel_ext", "n_cells", "n_events", "sum_cents",
                F.round(F.col("sum_cents") / 100.0 / F.col("n_events"), 6)
                 .alias("mean_value"))
            .orderBy("isolabel_ext"))


_Z_SRC = f"""SELECT gi * 1024 + gj AS event_id,
       {X0!r} + gi * {_Z_S!r} + {_Z_S / 2!r} AS x,
       {Y0!r} + gj * {_Z_S!r} + {_Z_S / 2!r} AS y FROM occ"""

SQL_ZONAL_STATS = f"""
WITH raw AS (
  SELECT {_XENG} AS x, {_YENG} AS y,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
), grz AS (
  SELECT CAST(floor((x - {X0!r}) / {_Z_S!r}) AS BIGINT) AS gi,
         CAST(floor((y - {Y0!r}) / {_Z_S!r}) AS BIGINT) AS gj, v
  FROM raw
), occ AS (SELECT gi, gj, count(*) AS n, sum(v) AS sv FROM grz GROUP BY 1, 2),
{cells_cte(_Z_SRC, _PT_R, ['event_id'])},
{_SQL_COV},
best AS (SELECT event_id, min(isolabel_ext) AS isolabel_ext
         FROM hits GROUP BY 1),
z AS (
  SELECT b.isolabel_ext, o.n, o.sv
  FROM best b JOIN occ o ON b.event_id = o.gi * 1024 + o.gj
)
SELECT isolabel_ext, n_cells, n_events, sum_cents,
       round(sum_cents / 100.0 / n_events, 6) AS mean_value
FROM (SELECT isolabel_ext, CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(sv) AS BIGINT) AS sum_cents
      FROM z GROUP BY 1)
ORDER BY isolabel_ext
"""


# ---------------------------------------------------------------------------
# geo_dissolve — attribute dissolve (ST_Union ... GROUP BY, re-expressed on
# the cell algebra): union every department's municipality covers
# (/root/reference/data/citycover.csv isolabel_ext 'CO-DEP-City' -> DEP),
# drop cells contained in a coarser cell of the same department (adjacent
# municipalities' covers overlap at mixed depths along shared boundaries —
# measured: 3,858 duplicate cells + 16,344 proper-containment pairs within
# departments), then quad-compact per department.  The oracle restates the
# whole chain in DuckDB: CSV grammar decode, NOT-EXISTS ancestor pruning via
# bit shifts, and (max_depth 22 - min_depth 4) / 2 = 9 unrolled grouped
# merge levels (Spark's loop fixpoints early; extra levels are idempotent).
# ---------------------------------------------------------------------------

_DIS_MIN_DEPTH = 4
_DIS_LEVELS = (22 - _DIS_MIN_DEPTH) // 2  # citycover max cover depth is 22


def g_dissolve(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.compact import dissolve_cover

    cc = (load_citycover(spark)
          .filter(F.col("kind") == "cover")
          .select(F.split("isolabel_ext", "-")[1].alias("dept"), "cell"))
    out = dissolve_cover(cc, group_cols=("dept",), min_depth=_DIS_MIN_DEPTH)
    return (out.select("dept", "cell",
                       F.col("depth").cast("long").alias("depth"))
               .orderBy("dept", "cell"))


def _sql_dissolve_merge(prev: str) -> str:
    """One simultaneous per-group quad-merge pass (min_depth 4 -> merge
    cells of depth >= 6 whose sibling quad is complete)."""
    return f"""
  SELECT DISTINCT dept, CASE WHEN mrg THEN par ELSE cell END AS cell FROM (
    SELECT dept, cell, par,
           par IS NOT NULL AND count(*) OVER (PARTITION BY dept, par) = 4
             AS mrg
    FROM (SELECT dept, cell,
                 CASE WHEN cell % 64 >= {_DIS_MIN_DEPTH + 2}
                      THEN ((cell // 64) // 4) * 64 + (cell % 64 - 2) END
                   AS par
          FROM {prev}))"""


def _sql_dissolve() -> str:
    lvls, prev = [], "pruned"
    for i in range(_DIS_LEVELS):
        lvls.append(f"m{i} AS ({_sql_dissolve_merge(prev)})")
        prev = f"m{i}"
    return f"""
WITH {_sql_csv_decode("cover", "dvd")},
base AS (
  SELECT DISTINCT string_split(isolabel_ext, '-')[2] AS dept,
         cbits * 64 + cdepth AS cell
  FROM dvd),
pruned AS (
  SELECT dept, cell FROM base b
  WHERE NOT EXISTS (
    SELECT 1 FROM base a
    WHERE a.dept = b.dept
      AND (a.cell % 64) < (b.cell % 64)
      AND (b.cell // 64) >> CAST((b.cell % 64) - (a.cell % 64) AS INT)
          = a.cell // 64)),
{",".join(lvls)}
SELECT dept, cell, CAST(cell % 64 AS BIGINT) AS depth
FROM {prev} ORDER BY dept, cell
"""


SQL_DISSOLVE = _sql_dissolve()


# ---------------------------------------------------------------------------
# geo_areal_interp — areal interpolation / dasymetric disaggregation: spread
# each municipality's point total over its cover cells proportional to cell
# AREA.  The classic GIS re-apportionment (census counts -> grid surface;
# Goodchild & Lam 1980 area-weighting) expressed on the reference's own
# cover geometry: a cover cell of depth d (in BITS — each base16h
# refinement bit halves the cell, README.md:49) has relative area
# 2^(dmax - d) in exact integer units, so the weights, their per-
# municipality sums, and the allocated shares (micro-units, integer
# division) are ALL int64 — bit-identical across engines and partitionings
# (the registry's integer float-protocol).
#
# Scale design: the only fact-sized work is the same per-municipality count
# cover_lookup_events performs (per-depth cover lookup kernel + ONE map-
# side-combined groupBy).  Everything after runs on the cover dim (~5k
# rows) and the municipality totals (~1.1k rows) — both bounded by the
# FIXED reference dims, so the allocation joins are broadcast-sized by
# construction.  int64 bound: n_points * 2^(dmax) * 1e6 must stay < 2^63;
# with dmax - dmin <= 22 cover levels that allows ~2.2e6 points per
# municipality per 1e6 scale — asserted in the pytest, revisit the scale
# factor before a corpus where a municipality exceeds it.
# ---------------------------------------------------------------------------


def g_areal_interp(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cover-cell allocated point mass: (isolabel_ext, cell, depth, w,
    n_points, alloc_micro) for every cover cell of every municipality that
    received >= 1 point; alloc_micro = (n_points * w * 1e6) div W."""
    cells = event_cells(spark, sf, _PT_R)
    hit = cover_lookup_best(cells, load_citycover(spark), keep=["event_id"],
                            dedup=False)
    totals = hit.groupBy("isolabel_ext").agg(F.count("*").alias("n_points"))
    cov = (load_citycover(spark).filter(F.col("kind") == "cover")
           .select("isolabel_ext", "cell", "depth"))
    dmax = cov.agg(F.max("depth").alias("dmax"))
    w = (cov.crossJoin(F.broadcast(dmax))
         .withColumn("w", F.expr(
             "shiftleft(CAST(1 AS BIGINT), CAST(dmax - depth AS INT))")))
    ws = w.groupBy("isolabel_ext").agg(F.sum("w").alias("tot_w"))
    return (w.join(F.broadcast(ws), "isolabel_ext")
            .join(F.broadcast(totals), "isolabel_ext")
            .select("isolabel_ext", "cell", "depth", "w", "n_points",
                    F.expr("(n_points * w * 1000000) div tot_w")
                     .cast("long").alias("alloc_micro"))
            .orderBy("isolabel_ext", "cell"))


SQL_AREAL_INTERP = f"""
WITH {cells_cte(_EVENT_XY, _PT_R, ['event_id'])},
{_SQL_COV},
best AS (
  SELECT event_id, min(isolabel_ext) AS isolabel_ext FROM hits GROUP BY event_id
),
tot AS (
  SELECT isolabel_ext, CAST(count(*) AS BIGINT) AS n_points
  FROM best GROUP BY 1
),
dmx AS (SELECT max(cdepth) AS dmax FROM cov),
wts AS (
  SELECT isolabel_ext, cbits * 64 + cdepth AS cell, cdepth AS depth,
         (CAST(1 AS BIGINT) << (dmax - cdepth)) AS w
  FROM cov CROSS JOIN dmx
),
ws AS (SELECT isolabel_ext, sum(w) AS tot_w FROM wts GROUP BY 1)
SELECT w.isolabel_ext, w.cell, CAST(w.depth AS BIGINT) AS depth, w.w,
       t.n_points,
       CAST((t.n_points * w.w * 1000000) // s.tot_w AS BIGINT) AS alloc_micro
FROM wts w
JOIN ws s ON s.isolabel_ext = w.isolabel_ext
JOIN tot t ON t.isolabel_ext = w.isolabel_ext
ORDER BY w.isolabel_ext, w.cell
"""


QUERIES = {
    "geo_areal_interp": (g_areal_interp, SQL_AREAL_INTERP),
    "geo_dissolve": (g_dissolve, SQL_DISSOLVE),
    "geo_cover_pyds_scan": (g_cover_pyds_scan, SQL_COVER_PYDS_SCAN),
    "geo_zonal_stats": (g_zonal_stats, SQL_ZONAL_STATS),
    "geo_cover_lookup_events": (g_cover_lookup_events, SQL_COVER_LOOKUP_EVENTS),
    "geo_cover_suffix_probe": (g_cover_suffix_probe, SQL_COVER_SUFFIX_PROBE),
    "geo_cover_anti": (g_cover_anti, SQL_COVER_ANTI),
    "geo_shortcode_sci": (g_shortcode_sci, SQL_SHORTCODE_SCI),
    "geo_shortcode_log": (g_shortcode_log, SQL_SHORTCODE_LOG),
    "geo_cover_set_ops": (g_cover_set_ops, SQL_COVER_SET_OPS),
    "geo_seat_cells": (g_seat_cells, SQL_SEAT_CELLS),
}
