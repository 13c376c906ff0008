"""Hand-built HyperLogLog (``web_hll_vocab``) — per-source distinct-shingle
cardinality as an EXACT-ARITHMETIC sketch (Flajolet et al. 2007, public
algorithm, independently coded as DataFrame ops).

Why it exists: the registry uses Spark's built-in HLL++
(rel_approx_distinct) but the sketch family it hand-builds — Count-Min,
Count-Sketch, Bloom, MinHash, SimHash — lacked the cardinality member.
Hand-building it shows the 100 TB shape explicitly: the sketch IS a
groupBy — register index and rank are per-row expressions, the partial
hash aggregate builds per-partition sketches, the exchange combiner merges
them by register-max, and only ``groups x 64`` register rows ever shuffle
(here: 10^12 exploded shingles collapse mapper-side to 20 x 64 rows).

Exactness protocol: the hash is 60 md5 bits (15 hex chars -> int64), the
register rank is trailing-zeros + 1 computed STRING-WISE — ``length(bin(x))
- length(regexp_replace(bin(x), '0+$', '')) + 1`` — which is padding-
insensitive (DuckDB's bin() may zero-pad where Spark's doesn't; trailing
zeros don't care), and the harmonic-mean denominator is the exact integer
``num = sum(1 << (55 - reg))`` (<= 64 * 2^55 < 2^62), so registers, zero
counts, and num are all hash-exact cross-engine.  The only float is the
final ``alpha * m^2 * 2^55 / num`` — one literal times one exact int64
division, IEEE-identical in both engines.  No small-range linear-counting
branch in the entry (it would need ln(); at ~850 distinct per source every
register is hit, v_zeros = 0, and the raw estimator is in its unbiased
regime — the pytest gates both facts).

Oracle: the same sketch restated in SQL (shingle explode via
generate_series, registers, the shifted sum, the one division).  Accuracy
vs TRUE distinct counts and the merge law (sketch(A ∪ B) = register-max)
are pytest-gated on the python mirror.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

_HLL_M = 64          # registers (b = 6 index bits)
_HLL_RBITS = 55      # rank cap: 60-bit hash minus 6 index bits + headroom
_HLL_ALPHA = 0.709   # alpha_64
# the whole numerator is ONE compile-time double literal shared verbatim
_HLL_ANUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_RBITS)


def md5_h60(col):
    """60-bit md5-derived non-negative int64 hash (15 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def rho_of_rest(rest):
    """HLL register rank of the post-index hash bits: trailing zeros + 1,
    computed string-wise on bin() so DuckDB's zero-padded rendering agrees
    (trailing zeros are padding-insensitive); rest == 0 caps at _HLL_RBITS.
    ``rest`` must be a staged non-negative long Column."""
    b = F.bin(rest)
    tz = F.length(b) - F.length(F.regexp_replace(b, "0+$", ""))
    return (F.when(rest == 0, F.lit(_HLL_RBITS))
             .otherwise(tz + 1).cast("long"))


def sql_h60(expr: str) -> str:
    """The md5_h60 hash restated in SQL over an arbitrary expression."""
    return (f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)")


def sql_rho(rest: str) -> str:
    """The rho_of_rest rank restated in SQL over a rest expression."""
    return (f"CASE WHEN {rest} = 0 THEN {_HLL_RBITS} "
            f"ELSE length(bin({rest})) "
            f"- length(regexp_replace(bin({rest}), '0+$', '')) + 1 END")


def _shingles(d: DataFrame) -> DataFrame:
    w = F.split(F.col("text"), " ")
    # mask, don't clamp: sequence(1, 0) DESCENDS in Spark (the geo_resample
    # lesson), and element_at(w, 0) is a runtime error — a <3-word doc must
    # yield an empty array, not a backwards index walk
    sh = F.when(F.size(w) >= 3, F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1),
                              F.element_at(w, i + 2)))) \
          .otherwise(F.array().cast("array<string>"))
    return d.select("source", F.explode(sh).alias("s"))


def g_hll_vocab(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    sh = _shingles(d)
    # integer div, NOT floor(h/64): the double quotient is inexact past 2^53
    sh2 = sh.select("source", md5_h60(F.col("s")).alias("h")) \
            .withColumn("rest", F.expr(f"h div {_HLL_M}"))
    obs = (sh2.select("source", F.pmod(F.col("h"), F.lit(_HLL_M)).alias("idx"),
                      rho_of_rest(F.col("rest")).alias("rho"))
              .groupBy("source", "idx").agg(F.max("rho").alias("reg")))
    grid = (d.select("source").distinct()
             .crossJoin(spark.range(_HLL_M).select(
                 F.col("id").alias("idx"))))
    regs = (grid.join(obs, ["source", "idx"], "left")
                .select("source", "idx",
                        F.coalesce("reg", F.lit(0)).cast("long").alias("reg")))
    agg = (regs.groupBy("source")
           .agg(F.expr(f"sum(CAST(1 AS BIGINT) << "
                       f"CAST({_HLL_RBITS} - reg AS INT))").alias("num"),
                F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
                 .cast("long").alias("v_zeros")))
    exact = (sh.groupBy("source")
               .agg(F.countDistinct("s").alias("exact_d")))
    return (agg.join(exact, "source")
            .select("source", "num", "v_zeros",
                    (F.lit(_HLL_ANUM) / F.col("num").cast("double"))
                    .alias("raw_est"), "exact_d")
            .orderBy("source"))


SQL_HLL_VOCAB = f"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT source, concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]) AS s
  FROM (SELECT source, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        FROM w)
), hh AS (
  SELECT source, {sql_h60('s')} AS h
  FROM sh
), rr AS (
  SELECT source, h % {_HLL_M} AS idx, h // {_HLL_M} AS rest FROM hh
), ro AS (
  SELECT source, idx, {sql_rho('rest')} AS rho
  FROM rr
), obs AS (
  SELECT source, idx, max(rho) AS reg FROM ro GROUP BY source, idx
), grid AS (
  SELECT DISTINCT d.source, t.idx
  FROM documents d, unnest(generate_series(0, {_HLL_M - 1})) AS t(idx)
), regs AS (
  SELECT g.source, g.idx, coalesce(o.reg, 0) AS reg
  FROM grid g LEFT JOIN obs o ON o.source = g.source AND o.idx = g.idx
), agg AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RBITS} - reg)) AS BIGINT)
           AS num,
         CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_zeros
  FROM regs GROUP BY source
), ex AS (
  SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS exact_d
  FROM sh GROUP BY source
)
SELECT a.source, a.num, a.v_zeros,
       {_HLL_ANUM!r} / CAST(a.num AS DOUBLE) AS raw_est, ex.exact_d
FROM agg a JOIN ex ON ex.source = a.source
ORDER BY a.source
"""


QUERIES = {
    "web_hll_vocab": (g_hll_vocab, SQL_HLL_VOCAB),
}


# --------------------------------------------------------------------------
# web_kmv_vocab — the OTHER cardinality sketch: K-minimum-values / bottom-k
# (Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased estimator).  Distinct
# tradeoff vs HLL: exact distinct-hash count below K, mergeable by keeping
# the k smallest of a union, and the state is K hashes instead of registers.
# --------------------------------------------------------------------------
#
# Shape: distinct (source, h) first (map-side combined), then the bottom-K
# per source via a window PARTITIONED by source over the distinct hash set
# (bounded per key by the distinct count, never corpus-wide).  The
# estimator is (K-1) * 2^60 / h_K with h_K the K-th smallest hash — an
# exact int64 numerator over an exact int64 divisor, one IEEE division.
# When a source has fewer than K distinct hashes the sketch IS the whole
# hash set, so n_seen < K is the exact distinct-HASH count — equal to the
# distinct-shingle count unless two shingles collide in 60 bits
# (probability ~ n^2/2^61), pytest-exercised via the merge-law test.

_KMV_K = 32
_KMV_RANGE = 1 << 60   # md5_h60 is uniform on [0, 2^60)


def g_kmv_vocab(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf, "documents")
    sh = _shingles(d)
    dh = (sh.select("source", md5_h60(F.col("s")).alias("h"))
            .groupBy("source", "h").agg(F.count("*").alias("_c"))
            .select("source", "h"))
    w = Window.partitionBy("source").orderBy("h")
    bot = (dh.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= _KMV_K))
    agg = (bot.groupBy("source")
           .agg(F.count("*").alias("n_seen"),
                F.max("h").alias("hk"),
                F.sum("h").alias("hsum")))
    exact = sh.groupBy("source").agg(F.countDistinct("s").alias("exact_d"))
    # below K: exact distinct-hash count (collision probability ~ n^2/2^61)
    est = F.when(F.col("n_seen") < _KMV_K,
                 F.col("n_seen").cast("double")) \
           .otherwise(F.lit(float(_KMV_K - 1) * _KMV_RANGE)
                      / F.col("hk").cast("double"))
    return (agg.join(exact, "source")
            .select("source", "n_seen", "hk", "hsum",
                    est.alias("kmv_est"), "exact_d")
            .orderBy("source"))


SQL_KMV_VOCAB = f"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT source, concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]) AS s
  FROM (SELECT source, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        FROM w)
), dh AS (
  SELECT DISTINCT source, {{H60}} AS h FROM sh
), bot AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h)
             AS rk
    FROM dh) WHERE rk <= {_KMV_K}
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_seen,
         max(h) AS hk, CAST(sum(h) AS BIGINT) AS hsum
  FROM bot GROUP BY source
), ex AS (
  SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS exact_d
  FROM sh GROUP BY source
)
SELECT a.source, a.n_seen, a.hk, a.hsum,
       CASE WHEN a.n_seen < {_KMV_K} THEN CAST(a.n_seen AS DOUBLE)
            ELSE {float(_KMV_K - 1) * (1 << 60)!r} / CAST(a.hk AS DOUBLE)
       END AS kmv_est,
       ex.exact_d
FROM agg a JOIN ex ON ex.source = a.source
ORDER BY a.source
"""
SQL_KMV_VOCAB = SQL_KMV_VOCAB.replace("{H60}", sql_h60("s"))


QUERIES["web_kmv_vocab"] = (g_kmv_vocab, SQL_KMV_VOCAB)
