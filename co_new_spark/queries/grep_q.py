"""Webtext surface: multi-pattern literal search over a chunked blob —
OVERLAP SPLITTING, the third distributed-splitting kernel beside csv_q's
parity prefix and json_q's automaton composition.

Why it exists: finding fixed literal patterns (PII markers, sentinel
tokens, magic bytes) in a blob split into chunks misses every match that
STRADDLES a boundary.  For bounded pattern length L the fix needs no
global state at all: extend each chunk with the first L-1 characters of
the NEXT chunk (a lead() window — pure Catalyst), scan the extended
chunk, and apply the reference-point rule (a match is reported by the
chunk OWNING its start offset) so boundary matches are found exactly
once.  Contrast the trilogy: parsers whose state is unbounded-range
(quote parity, lexer state) need prefix algebra; pattern matching has
bounded lookback, so a constant-size overlap suffices.

Fully native — ZERO python rows: occurrence enumeration is a Catalyst
HOF (`filter(sequence(1, n), i -> substring(ext, i, L) = pat)`) inside
whole-stage codegen; the overlap is one lead() window partitioned by
shard; offsets are an exclusive prefix sum of chunk lengths.

Output: one row per occurrence (shard, pat, off), globally offset.

Oracle (byte-blind): patterns carry a 'Z' — a character that cannot
occur in the md5-hex filler — so every occurrence is a PLANT at an
arithmetically known token offset; the oracle enumerates plants without
ever touching the text.  Chunk size 97 (prime vs the 16-char token
lattice) makes pattern straddles routine (pytest-guarded).

Scale design (10^12 chunks): the scan is embarrassingly parallel; the
overlap costs L-1 chars per chunk of network-free window work
(shard-partitioned); the only shuffles are the chunk-dim prefix and the
presentation sort.  L is bounded by the longest pattern — the technique
degrades to parity/composition only when lookback is unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .csv_q import _h, chunk_blob

_NSH = 4
_NT = 200    # 16-char tokens per shard
_CH = 97     # chunk size (chars; prime vs the token lattice => straddles)
_PATS = ["Zalpha0", "Zbeta01", "Zgamm02"]   # 7 chars each, 'Z' ∉ hex
_L = 7


def _tokens(spark: SparkSession) -> DataFrame:
    df = spark.range(_NSH * _NT)
    base = df.select(F.expr(f"id DIV {_NT}").alias("shard"),
                     F.pmod(F.col("id"), F.lit(_NT)).alias("r"))
    s, r = F.col("shard"), F.col("r")
    fill16 = F.substring(_h(s, r, F.lit("t")), 1, 16)
    fill9 = F.substring(_h(s, r, F.lit("t")), 1, 9)
    tok = (F.when(r % 5 == 0, F.concat(F.lit(_PATS[0]), fill9))
            .when(r % 7 == 0, F.concat(F.lit(_PATS[1]), fill9))
            .when(r % 11 == 0, F.concat(F.lit(_PATS[2]), fill9))
            .otherwise(fill16))
    return base.select("shard", "r", tok.alias("tok"))


def g_grep_split(spark: SparkSession, sf: str) -> DataFrame:
    ch = chunk_blob(_tokens(spark), "tok", _CH)
    w = Window.partitionBy("shard").orderBy("cid")
    wc = w.rowsBetween(Window.unboundedPreceding, -1)
    ext = ch.select(
        "shard", "cid", F.length("chunk").alias("clen"),
        F.concat(
            F.col("chunk"),
            F.substring(F.coalesce(F.lead("chunk").over(w), F.lit("")),
                        1, _L - 1)).alias("ext"),
        F.coalesce(F.sum(F.length("chunk")).over(wc), F.lit(0)).alias("base"))

    pats = F.array(*[F.struct(F.lit(i).alias("pat"),
                              F.lit(p).alias("needle"))
                     for i, p in enumerate(_PATS)])
    e = ext.select("shard", "clen", "base",
                   F.explode(pats).alias("p"), F.col("ext"))
    # all match positions via a Catalyst HOF — stays in codegen, no UDF;
    # ownership: match START must lie within the chunk proper (reference-
    # point rule), so boundary matches report exactly once
    pos = F.filter(
        F.sequence(F.lit(1), F.greatest(F.length("ext") - _L + 1, F.lit(0))),
        lambda i: (F.substring(F.col("ext"), i, _L) == F.col("p.needle"))
        & (i <= F.col("clen")))
    return (e.select("shard", F.col("p.pat").alias("pat"), "base",
                     F.explode(pos).alias("i"))
            .select("shard", "pat",
                    (F.col("i") + F.col("base") - 1).alias("off"))
            .orderBy("shard", "pat", "off"))


SQL_GREP_SPLIT = f"""
WITH r AS (
  SELECT range // {_NT} AS shard, range % {_NT} AS r FROM range({_NSH * _NT})
)
SELECT shard, CASE WHEN r % 5 = 0 THEN 0 WHEN r % 7 = 0 THEN 1 ELSE 2 END
         AS pat,
       CAST(r * 16 AS BIGINT) AS off
FROM r
WHERE r % 5 = 0 OR r % 7 = 0 OR r % 11 = 0
ORDER BY shard, pat, off
"""


QUERIES = {
    "web_grep_split": (g_grep_split, SQL_GREP_SPLIT),
}
