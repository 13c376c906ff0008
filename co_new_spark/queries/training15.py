"""Training-pipeline surface, part 15: linear-sketch frequency estimation —
Count-Min (Cormode & Muthukrishnan 2005) and Count-Sketch (Charikar,
Chen & Farach-Colton 2002) over the document token stream.

Why they exist: at 10^12 documents the exact token-frequency table is
itself a giant artifact; production heavy-hitter and frequency queries run
against FIXED-SIZE linear sketches instead.  The registry already has the
other two classic sketch families (HLL distinct counting in
rel_approx_distinct, Bloom membership in train_dedup_bloom /
rel_bloom_join); Count-Min (biased, est >= truth always) and Count-Sketch
(signed, unbiased, median-of-estimates) complete the set and are a NEW
estimator family: linear projections of the frequency vector whose
per-partition partial states merge by plain cell-wise addition.

Sketch = a GROUP BY: counter cell (d, b) of CMS is just
``count(*) GROUP BY d, hash_d(tok) % W`` — Spark's partial hash aggregate
IS the per-partition sketch and the exchange's combiner IS the sketch
merge (the linearity property, for free from the engine).  Only
D*W = 256/320 cells ever cross the wire no matter how many tokens stream
by, so the sketch build is a near-zero shuffle; estimates join the
candidate tokens against the BROADCAST sketch.  The exact counts computed
alongside are the AUDIT (they'd be skipped in production — the sketch
exists to avoid them); candidate selection uses orderBy().limit(), which
compiles to TakeOrderedAndProject (per-partition top-k merged at the
driver), never a single-reducer global sort.

Hashes are md5-derived (the registry's cross-engine idiom), so both
engines compute identical buckets/signs independently and every counter,
estimate, and median is an exact int64 — the oracle re-derives the full
sketch from scratch in SQL.

* ``train_count_min``   — D=4 x W=64 CMS; per-candidate est = min over
  rows; also emits the overcount (est - exact >= 0, the CMS guarantee —
  pinned by pytest).
* ``train_count_sketch`` — D=5 x W=64 signed sketch; per-candidate est =
  exact integer median (3rd of 5 sorted signed estimates); can under- or
  over-shoot but is unbiased.

Reference tie-in: same documents table and single-space tokenization as
every train_* entry (training9 et al.), so sketch estimates are directly
comparable with the exact train_token_topk output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

_D_CMS = 4
_D_CS = 5
_W = 64
_K = 40  # candidate heavy hitters audited


def _toks(spark: SparkSession, sf: str) -> DataFrame:
    return (load(spark, sf, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok")))


def _bucket(d: Column, tok: Column) -> Column:
    h = F.md5(F.concat(d.cast("string"), F.lit("#"), tok))
    return F.pmod(F.conv(F.substring(h, 1, 6), 16, 10).cast("long"),
                  F.lit(_W))


def _sign(d: Column, tok: Column) -> Column:
    h = F.md5(F.concat(F.lit("s"), d.cast("string"), F.lit("#"), tok))
    return (F.when(F.substring(h, 1, 1) < F.lit("8"), F.lit(1))
            .otherwise(F.lit(-1)).cast("long"))


def _cand(toks: DataFrame) -> DataFrame:
    """Top-_K exact heavy hitters (the audit set). orderBy().limit()
    compiles to TakeOrderedAndProject — distributed, no global sort."""
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    return exact.orderBy(F.col("exact").desc(), "tok").limit(_K)


def _probe_sketch(spark: SparkSession, sf: str, depth: int, counter):
    """The shared scaffold: a ``depth`` x _W sketch of the token stream
    (cell (d, b) = ``counter`` over its (tok, s) rows, s the row's sign)
    joined to the candidates' probes (tok, exact, d, b, s) -> grouped by
    (tok, exact) for the caller's estimate."""
    toks = _toks(spark, sf)
    d = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    sketch = (toks.select(d, "tok")
              .select("d", _bucket(F.col("d"), F.col("tok")).alias("b"),
                      _sign(F.col("d"), F.col("tok")).alias("s"))
              .groupBy("d", "b").agg(counter.alias("c")))
    probes = (_cand(toks).select("tok", "exact", d)
              .withColumn("b", _bucket(F.col("d"), F.col("tok")))
              .withColumn("s", _sign(F.col("d"), F.col("tok"))))
    return (probes.join(F.broadcast(sketch), ["d", "b"])
            .groupBy("tok", "exact"))


def t_count_min(spark: SparkSession, sf: str) -> DataFrame:
    est = _probe_sketch(spark, sf, _D_CMS, F.count("*")).agg(
        F.min("c").alias("cms_est"))
    return (est.select(F.col("tok").alias("token"), "exact", "cms_est",
                       (F.col("cms_est") - F.col("exact")).alias("overcount"))
            .orderBy(F.col("exact").desc(), "token"))


def t_count_sketch(spark: SparkSession, sf: str) -> DataFrame:
    est = _probe_sketch(spark, sf, _D_CS, F.sum("s")).agg(F.element_at(
        F.array_sort(F.collect_list(F.col("s") * F.col("c"))),
        (_D_CS + 1) // 2).alias("cs_est"))
    return (est.select(F.col("tok").alias("token"), "exact", "cs_est")
            .orderBy(F.col("exact").desc(), "token"))


_TOKS_CTE = """toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), cand AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact
  FROM toks GROUP BY tok ORDER BY exact DESC, tok LIMIT 40
)"""

_B_SQL = ("CAST(concat('0x', substring(md5(concat(CAST({d} AS VARCHAR), "
          "'#', {tok})), 1, 6)) AS BIGINT) % 64")
_S_SQL = ("CASE WHEN substring(md5(concat('s', CAST({d} AS VARCHAR), "
          "'#', {tok})), 1, 1) < '8' THEN 1 ELSE -1 END")


def _sql_probe_sketch(depth: int, counter: str, estimate: str,
                      out: str) -> str:
    """The SQL twin of ``_probe_sketch``: sketch cell ``counter`` over
    (d, tok), per-candidate ``estimate`` over (ds.d, cand.tok, sk.c), and
    the ``out`` columns after (token, exact)."""
    return f"""
WITH {_TOKS_CTE}, ds AS (
  SELECT range AS d FROM range({depth})
), sk AS (
  SELECT d, {_B_SQL.format(d='d', tok='tok')} AS b, {counter} AS c
  FROM toks, ds GROUP BY 1, 2
), est AS (
  SELECT cand.tok, cand.exact, {estimate} AS est
  FROM cand, ds
  JOIN sk ON sk.d = ds.d
         AND sk.b = {_B_SQL.format(d='ds.d', tok='cand.tok')}
  GROUP BY cand.tok, cand.exact
)
SELECT tok AS token, exact, {out}
FROM est ORDER BY exact DESC, token
"""


SQL_COUNT_MIN = _sql_probe_sketch(
    _D_CMS, "CAST(count(*) AS BIGINT)", "min(sk.c)",
    "est AS cms_est, est - exact AS overcount")

SQL_COUNT_SKETCH = _sql_probe_sketch(
    _D_CS, f"CAST(sum({_S_SQL.format(d='d', tok='tok')}) AS BIGINT)",
    f"list_sort(list({_S_SQL.format(d='ds.d', tok='cand.tok')} * sk.c))"
    f"[{(_D_CS + 1) // 2}]",
    "CAST(est AS BIGINT) AS cs_est")


QUERIES = {
    "train_count_min": (t_count_min, SQL_COUNT_MIN),
    "train_count_sketch": (t_count_sketch, SQL_COUNT_SKETCH),
}
