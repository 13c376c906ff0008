"""Webtext surface: splittable RFC 4180 CSV — distributed parse of a blob
whose chunk boundaries do NOT respect record boundaries.

Why it exists: quoted CSV fields may contain commas, NEWLINES, and
escaped quotes (RFC 4180 §2.5-2.7), so a byte-range splitter cannot know
whether a newline at offset k terminates a record without knowing the
quote state at k — the classic reason naive Spark text splitting corrupts
multiline CSV and engines fall back to single-threaded parses of huge
files.  The distributed kernel that fixes it is QUOTE-PARITY PREFIXING:
in a well-formed RFC 4180 stream every '"' toggles the in-quotes state
(the '""' escape is two toggles), so the parser state at any chunk
boundary is just (total quotes before the chunk) mod 2.

Plan (per shard = one CSV file, the unit the warc entries also use):
  1. build + chunk the shard blob (one applyInPandas; 256-byte chunks,
     records ~27-34 B so records routinely straddle chunks — including
     in-quote newlines ACROSS boundaries),
  2. phase A is PURE CATALYST: per-chunk quote count via length-diff,
     start state = exclusive prefix sum mod 2, chunk base offset =
     exclusive prefix sum of lengths (shard-partitioned windows over the
     chunk table — 1 bit + 1 long per 256 bytes of input),
  3. phase B: ONE Arrow-batched mapInPandas scan per chunk, seeded with
     the start state — emits per-SPAN counters (span = run between
     depth-0 newlines): bytes, depth-0 commas, in-quote commas/newlines,
     quotes, and the break's global offset,
  4. record assembly is pure aggregation: span's record ordinal =
     (breaks in earlier chunks, an exclusive prefix over the chunk dim)
     + span ordinal; groupBy record sums the counters map-side — record
     content never needs cross-chunk string reassembly.

Output per record: (shard, rid, start, len, n_fields, quoted_class)
where class 0=plain, 1=embedded comma, 2=embedded newline, 3=escaped
quote — all derived from the PARSED BYTES (quote/in-quote counters).

Oracle (byte-blind, warc-style): re-derives every record's byte length,
start offset (running sum), field count, and class ARITHMETICALLY from
the deterministic construction — it never parses; a single mis-framed
boundary in the engine shifts every later offset and diffs instantly.

Corpus: 4 shards x 100 records, field 2 planted by residue — every 5th
record a quoted comma, every 7th a quoted NEWLINE, every 11th an escaped
'""' — md5-derived field bytes, zero-padded ids so lengths are class-
determined constants (27/34/34/33 incl. the terminator).

Scale design (10^12 records): chunk scans are embarrassingly parallel
and byte-local; only 1-bit parities, chunk lengths, and span counter
rows ever shuffle; the chunk-dim prefix windows partition by shard (file)
exactly like the warc offset windows; record aggregation is one hash
shuffle with map-side combine.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_NSH = 4      # shards (files)
_NR = 100     # records per shard
_CH = 256     # chunk size — CHARACTER units; the corpus is pure ASCII so
              # chars == bytes and output offsets double as byte seeks; a
              # non-ASCII corpus would need byte-domain chunking first


def _h(*parts):
    return F.md5(F.concat_ws("_", *parts))


def _records(spark: SparkSession) -> DataFrame:
    """(shard, r, rec) — record text INCLUDING the terminating newline."""
    df = spark.range(_NSH * _NR)
    sh = F.expr(f"id DIV {_NR}")
    r = F.pmod(F.col("id"), F.lit(_NR))
    base = df.select(sh.alias("shard"), r.alias("r"))
    s, r = F.col("shard"), F.col("r")
    f0 = F.concat(F.lit("r"), F.lpad(r.cast("string"), 4, "0"))
    f1 = F.substring(_h(s, r, F.lit("f1")), 1, 8)
    a6 = F.substring(_h(s, r, F.lit("f2a")), 1, 6)
    b4 = F.substring(_h(s, r, F.lit("f2b")), 1, 4)
    c4 = F.substring(_h(s, r, F.lit("f2c")), 1, 4)
    q = F.lit('"')
    f2 = (F.when(r % 5 == 0, F.concat(q, a6, F.lit(","), b4, q))
           .when(r % 7 == 0, F.concat(q, a6, F.lit("\n"), b4, q))
           .when(r % 11 == 0, F.concat(q, c4, F.lit('""'), b4, q))
           .otherwise(a6))
    f3 = F.substring(_h(s, r, F.lit("f3")), 1, 4)
    rec = F.concat_ws(",", f0, f1, f2, f3)
    return base.select("shard", "r", F.concat(rec, F.lit("\n")).alias("rec"))


def _scan(pdf_iter):
    """Phase B: per-chunk RFC 4180 scan seeded with the boundary state."""
    for pdf in pdf_iter:
        out = []
        for row in pdf.itertuples(index=False):
            inq = bool(row.state)
            span, nb, c, qc, qn, nq = 0, 0, 0, 0, 0, 0
            for i, ch in enumerate(row.chunk):
                if ch == '"':
                    inq = not inq
                    nq += 1
                    nb += 1
                elif ch == ",":
                    nb += 1
                    if inq:
                        qc += 1
                    else:
                        c += 1
                elif ch == "\n":
                    if inq:
                        qn += 1
                        nb += 1
                    else:
                        out.append((row.shard, row.cid, span,
                                    row.base + i, nb, c, qc, qn, nq))
                        span, nb, c, qc, qn, nq = span + 1, 0, 0, 0, 0, 0
                else:
                    nb += 1
            out.append((row.shard, row.cid, span, None, nb, c, qc, qn, nq))
        yield pd.DataFrame(
            out, columns=["shard", "cid", "span", "brk", "nbytes",
                          "commas", "qcommas", "qnewlines", "quotes"])


def chunk_blob(records: DataFrame, text: str, size: int, opening: str = "",
               sep: str = "", closing: str = "") -> DataFrame:
    """Shared splittable-parse chunker (csv_q, json_q and grep_q):
    (shard, r, ``text``) records -> (shard, cid, chunk), each shard's blob
    ``opening + sep.join(text in r order) + closing`` split into
    ``size``-character chunks."""
    def chunker(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = opening + sep.join(pdf.sort_values("r")[text]) + closing
        rows = [(int(pdf["shard"].iloc[0]), i // size, blob[i:i + size])
                for i in range(0, len(blob), size)]
        return pd.DataFrame(rows, columns=["shard", "cid", "chunk"])

    return (records.groupBy("shard")
            .applyInPandas(chunker, "shard long, cid long, chunk string"))


def assemble_records(spans: DataFrame, counters: list[str],
                     rid_shift: int = 0) -> DataFrame:
    """Shared splittable-parse record assembly (csv_q + json_q twins):
    record ordinal = breaks-in-earlier-chunks (shard-partitioned chunk-dim
    prefix) + span ordinal (+shift for structural leading breaks); groupBy
    record sums the requested counters map-side and anchors end = the
    terminal break offset, start = end - len.  count("brk") skips the
    null tail span; records without a terminal break (the empty tail) are
    dropped."""
    wc = (Window.partitionBy("shard").orderBy("cid")
          .rowsBetween(Window.unboundedPreceding, -1))
    bc = spans.groupBy("shard", "cid").agg(F.count("brk").alias("nbrk"))
    bc = bc.select("shard", "cid",
                   F.coalesce(F.sum("nbrk").over(wc), F.lit(0))
                   .alias("brk_before"))
    rec = (spans.join(bc, ["shard", "cid"])
           .withColumn("rid", F.col("brk_before") + F.col("span")
                       + F.lit(rid_shift))
           .filter(F.col("rid") >= 0)
           .groupBy("shard", "rid")
           .agg(F.max("brk").alias("end"), F.sum("nbytes").alias("len"),
                *[F.sum(c).alias(c) for c in counters])
           .filter(F.col("end").isNotNull()))
    return rec.withColumn("start", F.col("end") - F.col("len"))


def g_csv_split(spark: SparkSession, sf: str) -> DataFrame:
    ch = chunk_blob(_records(spark), "rec", _CH).localCheckpoint(eager=True)

    # phase A — pure Catalyst: quote parity + base offsets per chunk
    wc = (Window.partitionBy("shard").orderBy("cid")
          .rowsBetween(Window.unboundedPreceding, -1))
    meta = ch.select(
        "shard", "cid", "chunk",
        (F.length("chunk")
         - F.length(F.replace(F.col("chunk"), F.lit('"')))).alias("nq"),
        F.length("chunk").alias("clen"))
    meta = meta.select(
        "shard", "cid", "chunk",
        F.pmod(F.coalesce(F.sum("nq").over(wc), F.lit(0)), F.lit(2))
         .alias("state"),
        F.coalesce(F.sum("clen").over(wc), F.lit(0)).alias("base"))

    spans = meta.mapInPandas(
        _scan, "shard long, cid long, span long, brk long, nbytes long,"
               "commas long, qcommas long, qnewlines long, quotes long")
    spans = spans.localCheckpoint(eager=True)

    rec = assemble_records(spans, ["commas", "qcommas", "qnewlines", "quotes"])
    cls = (F.when(F.col("quotes") == 4, F.lit(3))
            .when(F.col("qcommas") > 0, F.lit(1))
            .when(F.col("qnewlines") > 0, F.lit(2))
            .otherwise(F.lit(0)))
    return (rec.select("shard", "rid", "start", "len",
                       (F.col("commas") + 1).alias("n_fields"),
                       cls.alias("quoted_class"))
            .orderBy("shard", "rid"))


# record length by class, EXCLUDING the terminating newline:
# 5 + 1 + 8 + 1 + len(f2) + 1 + 4  => c0: 26, c1: 33, c2: 33, c3: 32
SQL_CSV_SPLIT = f"""
WITH r AS (
  SELECT range // {_NR} AS shard, range % {_NR} AS r FROM range({_NSH * _NR})
), cl AS (
  SELECT shard, r,
         CASE WHEN r % 5 = 0 THEN 1
              WHEN r % 7 = 0 THEN 2
              WHEN r % 11 = 0 THEN 3
              ELSE 0 END AS quoted_class
  FROM r
), len AS (
  SELECT shard, r, quoted_class,
         CASE quoted_class WHEN 0 THEN 26 WHEN 1 THEN 33
                           WHEN 2 THEN 33 ELSE 32 END AS len
  FROM cl
)
SELECT shard, r AS rid,
       CAST(coalesce(sum(len + 1) OVER (PARTITION BY shard ORDER BY r
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start,
       CAST(len AS BIGINT) AS len, CAST(4 AS BIGINT) AS n_fields,
       quoted_class
FROM len ORDER BY shard, rid
"""


QUERIES = {
    "web_csv_split": (g_csv_split, SQL_CSV_SPLIT),
}
