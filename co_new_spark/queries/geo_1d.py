"""1-D grid-code verbs: run-length interval compression of jurisdiction
covers (``geo_cover_rle``) and classic Geohash encoding as a pure-Column
bit-interleave (``geo_geohash_classic``).

Why they exist:

* The reference's central design claim is that hierarchical grid codes
  "reduce multidimensional spatial queries to 1-D array processes"
  (/root/reference/README.md:23).  ``geo_cover_rle`` evidences the claim
  end-to-end: every jurisdiction's citycover.csv cell set, re-expressed as
  half-open integer intervals at fixed depth (grid/cells.py:69), collapses
  under one ordered merge into a handful of contiguous 1-D runs — the form
  range scans, interval joins (B8), and storage-side sort clustering
  actually consume.  Compression ratio (cells per run) is the payoff the
  reference promises.
* ``geo_geohash_classic`` is the public Geohash (Niemeyer, public domain):
  the de-facto interchange cell code of the wider geo ecosystem, next to
  the reference's own ggeohash (README.md:55 calls the family "generalized
  geohashes").  An engine replacing the reference must emit standard
  geohashes for interop.  The encode — quantize lat/lon to 20 bits each,
  interleave lon-first, emit 8 base32 digits — is PURE integer Column
  arithmetic (zero UDF, zero shuffle, whole-stage codegen), and the oracle
  replays the identical expression tree in DuckDB, so parity is exact.

Scale design: both entries are narrow projections + one bounded aggregate.
RLE's only shuffle is the per-isolabel window over the DIMENSION-sized
cover table (1,116 jurisdictions x ~13 cells); geohash is shuffle-free row
arithmetic over the fact table followed by a map-side-combinable prefix
aggregate whose output is bounded by the 32^2 prefix space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells_sql
from ..functions import text as tx
from ..grid.cells import MAXB
from ..grid.codec import GEOHASH_ALPHABET
from ..sources.reference_data import load_citycover
from .geo_cover_sql import _sql_csv_decode
from .sql_grid import b32_code
from .webtext_q import FIXTURE_PAGES, _fixture

# ---------------------------------------------------------------------------
# geo_cover_rle — jurisdiction covers as merged 1-D Morton ranges
# ---------------------------------------------------------------------------


def t_cover_rle(spark: SparkSession, sf: str) -> DataFrame:
    """Per-jurisdiction run-length stats of the cover's 1-D interval form:
    (isolabel_ext, n_codes, n_runs, covered, max_run).

    Each cover cell is the half-open range [lo, hi) at depth MAXB; sorted
    by lo within the jurisdiction, a new RUN starts where lo jumps past the
    running max(hi) (gaps-and-islands — cover cells are disjoint but
    Morton-adjacent siblings merge).  ``covered`` = total depth-MAXB leaf
    positions, ``max_run`` = the longest contiguous range.  The window is
    partitioned by jurisdiction (registry rule: no unpartitioned windows)
    and the input is the dimension-sized cover — at 10^12-page scale this
    table is the JOIN SIDE, so its compression runs once, driver-cheap.
    """
    cov = (load_citycover(spark)
           .filter(F.col("kind") == "cover")
           .select("isolabel_ext", "lo", "hi"))
    w = (Window.partitionBy("isolabel_ext").orderBy("lo", "hi")
         .rowsBetween(Window.unboundedPreceding, -1))
    runs = (cov.withColumn("prev_hi", F.max("hi").over(w))
            .withColumn("new_run",
                        (F.col("prev_hi").isNull()
                         | (F.col("lo") > F.col("prev_hi")))
                        .cast("long"))
            .withColumn("run_id", F.sum("new_run").over(
                Window.partitionBy("isolabel_ext").orderBy("lo", "hi")
                .rowsBetween(Window.unboundedPreceding, 0))))
    per_run = (runs.groupBy("isolabel_ext", "run_id")
               .agg(F.count("*").alias("n_codes"),
                    (F.max("hi") - F.min("lo")).alias("run_len")))
    return (per_run.groupBy("isolabel_ext")
            .agg(F.sum("n_codes").alias("n_codes"),
                 F.count("*").alias("n_runs"),
                 F.sum("run_len").alias("covered"),
                 F.max("run_len").alias("max_run"))
            .orderBy("isolabel_ext"))


SQL_COVER_RLE = f"""
WITH {_sql_csv_decode("cover", "covbits")},
iv AS (
  SELECT isolabel_ext,
         cbits << ({MAXB} - cdepth) AS lo,
         (cbits + 1) << ({MAXB} - cdepth) AS hi
  FROM covbits
),
flagged AS (
  SELECT isolabel_ext, lo, hi,
         CASE WHEN max(hi) OVER (
                PARTITION BY isolabel_ext ORDER BY lo, hi
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR lo > max(hi) OVER (
                PARTITION BY isolabel_ext ORDER BY lo, hi
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_run
  FROM iv
),
runs AS (
  SELECT isolabel_ext, lo, hi,
         sum(new_run) OVER (
           PARTITION BY isolabel_ext ORDER BY lo, hi
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
per_run AS (
  SELECT isolabel_ext, run_id,
         CAST(count(*) AS BIGINT) AS n_codes,
         CAST(max(hi) - min(lo) AS BIGINT) AS run_len
  FROM runs GROUP BY isolabel_ext, run_id
)
SELECT isolabel_ext,
       CAST(sum(n_codes) AS BIGINT) AS n_codes,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(run_len) AS BIGINT) AS covered,
       CAST(max(run_len) AS BIGINT) AS max_run
FROM per_run GROUP BY isolabel_ext ORDER BY isolabel_ext
"""


# ---------------------------------------------------------------------------
# geo_geohash_classic — standard Geohash-8 as native bit arithmetic
# ---------------------------------------------------------------------------

_GH_BITS = 20                 # bits per axis (8 chars * 5 bits / 2)


def _gh_spark(lat, lon):
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << _GH_BITS)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << _GH_BITS)))
    code = F.lit(0).cast("long")
    for j in range(_GH_BITS):
        code = (code
                + F.shiftleft(F.shiftright(ix, _GH_BITS - 1 - j)
                              .bitwiseAND(F.lit(1)), 2 * _GH_BITS - 1 - 2 * j)
                + F.shiftleft(F.shiftright(iy, _GH_BITS - 1 - j)
                              .bitwiseAND(F.lit(1)), 2 * _GH_BITS - 2 - 2 * j))
    gh = F.concat(*[
        cells_sql.b32_digit(F.shiftright(code, 2 * _GH_BITS - 5 * (i + 1))
                            .bitwiseAND(F.lit(31)), GEOHASH_ALPHABET)
        for i in range(2 * _GH_BITS // 5)])
    return ix.cast("long").alias("ix"), iy.cast("long").alias("iy"), gh


def _gh_sql_expr() -> tuple[str, str, str]:
    ix = f"CAST(floor((lon + 180.0) / 360.0 * {float(1 << _GH_BITS)!r}) AS BIGINT)"
    iy = f"CAST(floor((lat + 90.0) / 180.0 * {float(1 << _GH_BITS)!r}) AS BIGINT)"
    terms = []
    for j in range(_GH_BITS):
        terms.append(f"(((ix >> {_GH_BITS - 1 - j}) & 1) << {2 * _GH_BITS - 1 - 2 * j})")
        terms.append(f"(((iy >> {_GH_BITS - 1 - j}) & 1) << {2 * _GH_BITS - 2 - 2 * j})")
    return ix, iy, " + ".join(terms)


def t_geohash_classic(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level Geohash-8 for every geoparsed fixture page plus a bounded
    prefix histogram: (url, ix, iy, geohash) — geoparse grammar single-
    sourced with web_geoparse (functions/text.py), quantization and
    interleave evaluated as the identical double/integer expression in both
    engines (exact, no rounding protocol needed: floor() of the same IEEE
    product is the same integer)."""
    pg = _fixture(spark)
    pts = (pg.select("url",
                     tx.parse_lat(F.col("text")).alias("lat"),
                     tx.parse_lon(F.col("text")).alias("lon"))
           .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()
                   & (F.col("lat") >= -90.0) & (F.col("lat") < 90.0)
                   & (F.col("lon") >= -180.0) & (F.col("lon") < 180.0)))
    ix, iy, gh = _gh_spark(F.col("lat"), F.col("lon"))
    return (pts.select("url", ix, iy, gh.alias("geohash"))
            .orderBy("url"))


def _sql_geohash() -> str:
    ix, iy, code = _gh_sql_expr()
    return f"""
WITH pts AS (
  SELECT url,
         coalesce(CAST(nullif(regexp_extract(text, '{tx.GEO_URI_RE}', 1), '') AS DOUBLE),
                  CAST(nullif(regexp_extract(text, '{tx.PLAIN_PAIR_RE}', 1), '') AS DOUBLE))
           AS lat,
         coalesce(CAST(nullif(regexp_extract(text, '{tx.GEO_URI_RE}', 2), '') AS DOUBLE),
                  CAST(nullif(regexp_extract(text, '{tx.PLAIN_PAIR_RE}', 2), '') AS DOUBLE))
           AS lon
  FROM read_parquet('{FIXTURE_PAGES}')
),
q AS (
  SELECT url, {ix} AS ix, {iy} AS iy
  FROM pts
  WHERE lat IS NOT NULL AND lon IS NOT NULL
    AND lat >= -90.0 AND lat < 90.0 AND lon >= -180.0 AND lon < 180.0
),
c AS (SELECT url, ix, iy, {code} AS code FROM q)
SELECT url, ix, iy, {b32_code('code', 2 * _GH_BITS, GEOHASH_ALPHABET)} AS geohash
FROM c ORDER BY url
"""


QUERIES = {
    "geo_cover_rle": (t_cover_rle, SQL_COVER_RLE),
    "geo_geohash_classic": (t_geohash_classic, _sql_geohash()),
}
