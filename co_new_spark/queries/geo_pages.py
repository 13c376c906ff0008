"""Pages-pipeline geospatial entries over the committed fixtures, each
hash-checked against a DuckDB oracle.

The Spark side reads tests/fixtures/pages2k.parquet and runs the live kernels
end to end: regex geoparse, then the fused TM projection + Grid B encode,
then the per-depth cover lookup (geo_cover_lookup, web_geo_lang_mix), the
ring kNN (geo_knn_ring) or a per-L0 rollup (geo_pages_l0_histogram,
geo_native_geocode).  The oracles take the projected points from
tests/fixtures/pages2k_xy.parquet (per-url x, y frozen by
tools/make_fixtures.py), or, for geo_native_geocode, from the (url, x, y)
rows the Spark side materializes.  Everything after the projection is
restated in SQL: the geoparse regex (the grammar web_geoparse uses), the
point encode (sql_grid.cells_cte), the citycover.csv prefix cover
(decoded by geo_cover_sql._sql_csv_decode, joined by
geo_cover_sql.cover_hits_cte), the lattice ring-1 kNN and the language ID.
The TM series is the one link the oracles take on trust; it is pinned by the
reference's assert vectors (geo_gridlib_asserts, hash-checked) and
tests/test_grid_golden.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells_sql, geo
from ..functions import text as txf
from ..operators.cover import cover_lookup_best
from ..operators.knn import knn_ring
from ..sources.reference_data import load_citycover
from .geo_algebra import sql_knn_ring
from .geo_cover_sql import _sql_csv_decode, cover_hits_cte
from .sql_grid import cells_cte
from .webtext_q import FIXTURE_PAGES, _fixture

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_XY = os.path.join(_REPO, "tests", "fixtures", "pages2k_xy.parquet")
_XY_SRC = f"SELECT url, x, y FROM read_parquet('{FIXTURE_XY}')"


# ---------------------------------------------------------------------------
# geo_pages_l0_histogram — flagship shape: pages -> geoparse -> encode -> L0 agg
# ---------------------------------------------------------------------------


def pages_l0_histogram(pages: DataFrame) -> DataFrame:
    """(l0, n_pages, n_urls): ``pages`` (url, text) -> live geoparse -> live
    geocode (depth-16 cell) -> per-L0 page/url counts; off-grid geocodes
    land in the l0 = -1 bucket."""
    parsed = pages.select(
        "url",
        txf.parse_lat(F.col("text")).alias("lat"),
        txf.parse_lon(F.col("text")).alias("lon"),
    ).filter(F.col("lat").isNotNull())
    cells = parsed.withColumn("cell", geo.encode_b_cell(F.col("lat"), F.col("lon"), 12))
    return (
        cells.withColumn("l0", cells_sql.cell_l0_digit(F.col("cell")))
        .groupBy("l0")
        .agg(F.count("*").alias("n_pages"), F.countDistinct("url").alias("n_urls"))
    )


def g_pages_l0_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """The L0 histogram of the fixture pages."""
    return pages_l0_histogram(_fixture(spark))


# The l0 digit needs no refinement bits: it is the fragment's digit at r = 0,
# -1 off-grid — exactly what cell_l0_digit(encode(..)) reduces to.
SQL_PAGES_L0 = f"""
WITH parsed AS (
  SELECT url,
         coalesce(nullif(regexp_extract(text, '{txf.GEO_URI_RE}', 1), ''),
                  nullif(regexp_extract(text, '{txf.PLAIN_PAIR_RE}', 1), '')) AS plat
  FROM read_parquet('{FIXTURE_PAGES}')
), pp AS (
  SELECT url FROM parsed WHERE plat IS NOT NULL
), pts AS (
  SELECT pp.url, xy.x, xy.y
  FROM pp JOIN read_parquet('{FIXTURE_XY}') xy USING (url)
), {cells_cte("SELECT url, x, y FROM pts", 0, ['url'])}
SELECT CAST(digit AS BIGINT) AS l0,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls
FROM cells GROUP BY 1
"""


# ---------------------------------------------------------------------------
# geo_cover_lookup — pages -> depth-30 cell -> municipality (prefix cover join)
# ---------------------------------------------------------------------------

_CV_R = 26  # refinement bits -> point depth 30 (> max cover depth 22)


def g_cover_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture pages -> fused geoparse+geocode kernel -> the per-depth
    cover lookup kernel -> top-50 municipalities by page count."""
    cover = load_citycover(spark)
    pg = _fixture(spark)
    pts = pg.select(
        "url", geo.encode_b_cell_from_text(F.col("text"), _CV_R).alias("cell")
    ).filter(F.col("cell") >= 0)
    hit = cover_lookup_best(pts, cover, keep=["url", "cell"])
    return hit.groupBy("isolabel_ext").agg(F.count("*").alias("n_pages")) \
              .orderBy(F.col("n_pages").desc(), "isolabel_ext").limit(50)


SQL_COVER_LOOKUP = f"""
WITH {cells_cte(_XY_SRC, _CV_R, ['url'])},
{_sql_csv_decode("cover", "covbits")},
pcell AS (
  SELECT DISTINCT url, cell >> 6 AS pbits FROM cells WHERE cell >= 0
),
{cover_hits_cte("pcell", ["url"], "covbits", 4 + _CV_R)},
best AS (
  SELECT url, min(isolabel_ext) AS isolabel_ext FROM hits GROUP BY url
)
SELECT isolabel_ext, CAST(count(*) AS BIGINT) AS n_pages
FROM best GROUP BY 1
ORDER BY n_pages DESC, isolabel_ext LIMIT 50
"""


# ---------------------------------------------------------------------------
# geo_knn_ring — ring-expansion kNN of page points around the 50 first urls
# ---------------------------------------------------------------------------

_KNN_R = 10   # depth 14 cells
_KNN_NQ = 50
_KNN_K = 5


def g_knn_ring(spark: SparkSession, sf: str) -> DataFrame:
    """kNN over the fixture's geocoded page points via cell-ring expansion;
    queries = the 50 lexicographically-first grid-valid urls.

    Projection+encode fused in one pandas UDF per the round-1 lesson; the
    grid-valid filter keys on the struct's cell field only."""
    pg = _fixture(spark).select("url", "text").distinct()
    parsed = pg.select(
        "url",
        txf.parse_lat(F.col("text")).alias("lat"),
        txf.parse_lon(F.col("text")).alias("lon"),
    ).filter(F.col("lat").isNotNull())
    s = parsed.select(
        "url", geo.latlon_to_xy_cell(F.col("lat"), F.col("lon"), _KNN_R).alias("s"))
    pts = s.select("url", F.col("s.x").alias("x"), F.col("s.y").alias("y"),
                   F.col("s.cell").alias("cell")).filter(F.col("cell") >= 0)
    q = pts.orderBy("url").limit(_KNN_NQ).select(
        F.col("url").alias("qid"), "x", "y", "cell")
    c = pts.select(F.col("url").alias("cid"), "x", "y", "cell")
    return knn_ring(q, c, k=_KNN_K, ring=1, exclude_self=True)


# ---------------------------------------------------------------------------
# web_geo_lang_mix — the geo x webtext fusion row: language mixture per
# jurisdiction (pages -> live lang-ID -> live geocode -> cover join -> shares)
# ---------------------------------------------------------------------------


def g_lang_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-municipality language mixture of geocoded pages: the composition a
    geo-aware curation pipeline runs to pick per-region language quotas.
    Everything LIVE: stopword-ratio lang-ID (functions/text.py), fused
    geoparse+TM+encode kernel, per-depth cover lookup kernel.  ``share`` is
    one double division of two BIGINTs, rounded — hash-stable."""
    from pyspark.sql import Window

    cover = load_citycover(spark)
    pg = _fixture(spark).select("url", "text").distinct()  # url-unique (byte-identical text per url)
    pts = pg.select(
        "url",
        txf.lang_guess(F.col("text")).alias("lang"),
        geo.encode_b_cell_from_text(F.col("text"), _CV_R).alias("cell"),
    ).filter(F.col("cell") >= 0)
    hit = cover_lookup_best(pts, cover, keep=["url", "lang"])
    g = hit.groupBy("isolabel_ext", "lang").agg(F.count("*").alias("n_urls"))
    w = Window.partitionBy("isolabel_ext")
    return g.select(
        "isolabel_ext", "lang", "n_urls",
        F.round(F.col("n_urls").cast("double")
                / F.sum("n_urls").over(w).cast("double"), 6).alias("share"))


def _sql_tok_ratio(lang: str) -> str:
    """Stopword ratio over the word_tokens grammar (lower + split on
    non-letter/digit runs, empties dropped) — the pages-text restatement;
    SQL_LANG's plain-space split only holds for pre-normalized documents."""
    words = ",".join(f"'{w}'" for w in txf._STOPWORDS[lang])  # noqa: SLF001
    toks = r"list_filter(string_split_regex(lower(text), '[^\pL\pN]+'), x -> x <> '')"
    return (f"CASE WHEN len({toks}) > 0 THEN"
            f" CAST(len(list_filter({toks}, t -> list_contains([{words}], t)))"
            f" AS DOUBLE) / len({toks}) ELSE 0.0 END")


SQL_LANG_MIX = f"""
WITH {cells_cte(_XY_SRC, _CV_R, ['url'])},
{_sql_csv_decode("cover", "covbits")},
pgu AS (SELECT DISTINCT url, text FROM read_parquet('{FIXTURE_PAGES}')),
lg AS (
  SELECT url,
         CASE WHEN best > 0 THEN
           (CASE WHEN r_es = best THEN 'es' WHEN r_pt = best THEN 'pt'
                 ELSE 'en' END)
         ELSE 'und' END AS lang
  FROM (
    SELECT url, r_es, r_en, r_pt, greatest(r_es, r_en, r_pt) AS best FROM (
      SELECT url, {_sql_tok_ratio('es')} AS r_es,
             {_sql_tok_ratio('en')} AS r_en,
             {_sql_tok_ratio('pt')} AS r_pt
      FROM pgu
    )
  )
),
pcell AS (
  SELECT DISTINCT url, cell >> 6 AS pbits FROM cells WHERE cell >= 0
),
{cover_hits_cte("pcell", ["url"], "covbits", 4 + _CV_R)},
best AS (
  SELECT url, min(isolabel_ext) AS isolabel_ext FROM hits GROUP BY url
),
g AS (
  SELECT b.isolabel_ext, lg.lang, CAST(count(*) AS BIGINT) AS n_urls
  FROM best b JOIN lg ON lg.url = b.url
  GROUP BY 1, 2
)
SELECT isolabel_ext, lang, n_urls,
       round(CAST(n_urls AS DOUBLE)
             / CAST(sum(n_urls) OVER (PARTITION BY isolabel_ext) AS DOUBLE),
             6) AS share
FROM g
"""


_NG_RBITS = 26


def g_native_geocode(spark: SparkSession, sf: str) -> DataFrame:
    """Pins the flagship kernel's depth-26 encode (geo.xy_to_cell_b) against
    SQL: fixture pages -> native geoparse -> forward TM (geo.latlon_to_xy)
    -> depth-26 cell -> per-L0 rollup with cell extrema.

    Oracle split (mat.py protocol): the transcendental part — the projected
    (url, x, y) — is materialized, and the oracle re-derives the ENTIRE
    encode from those bytes through sql_grid.cells_cte (IEEE-exact ops
    only, so bit-identical by construction).
    The projection itself is reference-verified (gridLib golden vectors)."""
    from .mat import materialize

    pg = _fixture(spark).select("url", "text").distinct()
    xy = geo.latlon_to_xy(txf.parse_lat(F.col("text")),
                          txf.parse_lon(F.col("text")))
    d = pg.select("url", xy.x.alias("x"), xy.y.alias("y"))
    d = materialize(d, "native_geocode_xy", key=sf)
    d = d.withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"),
                                              _NG_RBITS)) \
         .filter(F.col("cell") >= 0)
    return (d.groupBy(cells_sql.cell_l0_digit(F.col("cell")).alias("l0"))
             .agg(F.count("*").alias("n_pages"),
                  F.min("cell").alias("min_cell"),
                  F.max("cell").alias("max_cell"))
             .orderBy("l0"))


def _sql_native_geocode() -> str:
    from .mat import mat_glob

    xy = mat_glob("native_geocode_xy")
    src = f"SELECT url, x, y FROM read_parquet('{xy}')"
    return f"""
WITH {cells_cte(src, _NG_RBITS, ['url'])}
SELECT digit AS l0, CAST(count(*) AS BIGINT) AS n_pages,
       min(cell) AS min_cell, max(cell) AS max_cell
FROM cells WHERE cell >= 0 GROUP BY digit ORDER BY l0
"""


QUERIES = {
    "geo_pages_l0_histogram": (g_pages_l0_histogram, SQL_PAGES_L0),
    "geo_native_geocode": (g_native_geocode, _sql_native_geocode()),
    "geo_cover_lookup": (g_cover_lookup, SQL_COVER_LOOKUP),
    "geo_knn_ring": (g_knn_ring, sql_knn_ring(
        _XY_SRC, "url", f"ORDER BY url LIMIT {_KNN_NQ}", _KNN_R, _KNN_K)),
    "web_geo_lang_mix": (g_lang_mix, SQL_LANG_MIX),
}
