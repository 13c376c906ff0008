"""Webtext surface: splittable JSON-array parse — parallel lexing by
AUTOMATON COMPOSITION (the non-abelian big brother of csv_q's parity).

Why it exists: a giant JSON array `[{...},{...},...]` cannot be split on
commas or braces — string literals may contain braces and commas (depth
poison), `\\"` escaped quotes, and `\\\\` escaped backslashes, possibly
falling exactly on a chunk edge.  CSV's quote state was a PARITY (abelian
— a mod-2 sum), so a native prefix sum fixed it.  JSON's lexer state
(outside-string / in-string / in-string-pending-escape) is NOT abelian:
a chunk's effect is a FUNCTION over the 3 states plus an entry-state-
conditioned brace-depth delta, and chunk effects compose associatively —
the classic parallel-lexing result (function composition is a monoid, so
chunk summaries can reduce in any tree order).

Plan (per shard = one array file):
  1. build + chunk the blob (133-byte chunks — sized so 4 planted escape
     pairs straddle chunk edges and 64 string regions do),
  2. pass 1: ONE mapInPandas over chunks emits each chunk's TRANSFER
     TABLE — exit_state[s] and depth_delta[s] for each of the 3 entry
     states (6 small ints per chunk),
  3. the COMPOSITION FOLD is pure Catalyst: per shard, the cid-sorted
     table array folds through `F.aggregate` with struct state
     (state, depth, per-chunk entry list) — a row-local fold over the
     dim-sized per-file chunk directory (same shape as the UTF-8
     validator's byte fold; associativity licenses two-level folds for
     huge files),
  4. pass 2: mapInPandas re-scan seeded with (entry_state, entry_depth,
     base_offset) — spans break at depth-1 outside-string commas, the
     opening '[' and closing ']'; record assembly is pure aggregation
     exactly as in csv_q (span ordinal + breaks-before prefix).

Output per record: (shard, rid, start, len, n_keys, esc, cls) — all from
parsed bytes: n_keys = outside-string colons, esc = escape count, cls
2=brace/comma poison in string, 1=escaped quote, 3=escaped backslash,
0=plain.

Oracle: byte-blind arithmetic — object lengths are class constants
(36/42/43/40), starts a running sum; it never parses.

Corpus: 4 shards x 100 objects `{"id":"rNNNN","a":"<A>","b":NNNN}`,
A planted by residue: every 5th an escaped quote, every 7th a literal
`{,}` inside the string, every 11th an escaped backslash.

Scale design (10^12 objects): byte scans chunk-parallel; coordination is
6 ints per chunk + the per-file fold (chunk size is a tuning knob;
the 133-byte fixture value exists to stress boundary states); record agg map-side combines.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_NSH = 4
_NR = 100
_CH = 133  # chosen so planted escape PAIRS straddle chunk edges (4 do) —
           # the pending-escape state must actually cross boundaries.
           # CHARACTER units (corpus is pure ASCII, chars == bytes; a
           # non-ASCII corpus would need byte-domain chunking first)

# lexer states: 0 outside string, 1 in string, 2 in string after backslash
_NSTATES = 3


from .csv_q import _h, assemble_records, chunk_blob  # shared splittable-parse helpers


def _objects(spark: SparkSession) -> DataFrame:
    df = spark.range(_NSH * _NR)
    base = df.select(F.expr(f"id DIV {_NR}").alias("shard"),
                     F.pmod(F.col("id"), F.lit(_NR)).alias("r"))
    s, r = F.col("shard"), F.col("r")
    a6 = F.substring(_h(s, r, F.lit("a6")), 1, 6)
    b4 = F.substring(_h(s, r, F.lit("b4")), 1, 4)
    c4 = F.substring(_h(s, r, F.lit("c4")), 1, 4)
    A = (F.when(r % 5 == 0, F.concat(a6, F.lit('\\"'), b4))
          .when(r % 7 == 0, F.concat(a6, F.lit("{,}"), b4))
          .when(r % 11 == 0, F.concat(c4, F.lit("\\\\"), b4))
          .otherwise(a6))
    num = (1000 + F.pmod(F.conv(F.substring(_h(s, r, F.lit("n")), 1, 4),
                                16, 10).cast("long"), F.lit(9000)))
    obj = F.concat(F.lit('{"id":"r'), F.lpad(r.cast("string"), 4, "0"),
                   F.lit('","a":"'), A, F.lit('","b":'),
                   num.cast("string"), F.lit("}"))
    return base.select("shard", "r", obj.alias("obj"))


def _step(st: int, depth: int, ch: str):
    """One lexer step -> (state, depth, is_break_kind) where break kind:
    0 none, 1 break char ('[' ',' at depth 1, or final ']')."""
    if st == 0:
        if ch == '"':
            return 1, depth, 0
        if ch in "[{":
            return 0, depth + 1, 1 if (ch == "[" and depth == 0) else 0
        if ch in "]}":
            return 0, depth - 1, 1 if (ch == "]" and depth == 1) else 0
        if ch == ",":
            return 0, depth, 1 if depth == 1 else 0
        return 0, depth, 0
    if st == 1:
        if ch == "\\":
            return 2, depth, 0
        if ch == '"':
            return 0, depth, 0
        return 1, depth, 0
    return 1, depth, 0  # st == 2: any escaped char returns to in-string


def _tables(pdf_iter):
    """Pass 1: per-chunk transfer table under each of the 3 entry states.
    Depth deltas are entry-state-conditioned but depth-INDEPENDENT (the
    delta never depends on the absolute depth), so 6 ints suffice."""
    for pdf in pdf_iter:
        rows = []
        for row in pdf.itertuples(index=False):
            exits, deltas = [], []
            for s0 in range(_NSTATES):
                st, d = s0, 1_000_000  # large base: breaks don't matter here
                for ch in row.chunk:
                    st, d, _ = _step(st, d, ch)
                exits.append(st)
                deltas.append(d - 1_000_000)
            rows.append((row.shard, row.cid, exits, deltas))
        yield pd.DataFrame(
            rows, columns=["shard", "cid", "exits", "deltas"])


def _scan(pdf_iter):
    """Pass 2: seeded re-scan emitting span counter rows (csv_q shape)."""
    for pdf in pdf_iter:
        out = []
        for row in pdf.itertuples(index=False):
            st, d = int(row.state), int(row.depth)
            span = nb = colons = eq = eb = bis = 0
            for i, ch in enumerate(row.chunk):
                if st == 1 and ch in "{},":
                    bis += 1
                if st == 2:
                    eq += ch == '"'
                    eb += ch == "\\"
                st, d, brk = _step(st, d, ch)
                if brk:
                    out.append((row.shard, row.cid, span, row.base + i,
                                nb, colons, eq, eb, bis))
                    span, nb, colons, eq, eb, bis = span + 1, 0, 0, 0, 0, 0
                else:
                    nb += 1
                    if st == 0 and ch == ":":
                        colons += 1
            out.append((row.shard, row.cid, span, None,
                        nb, colons, eq, eb, bis))
        yield pd.DataFrame(
            out, columns=["shard", "cid", "span", "brk", "nbytes",
                          "colons", "eq", "eb", "bis"])


def g_json_split(spark: SparkSession, sf: str) -> DataFrame:
    ch = (chunk_blob(_objects(spark), "obj", _CH, "[", ",", "]")
          .localCheckpoint(eager=True))
    tabs = ch.mapInPandas(
        _tables, "shard long, cid long, exits array<int>, deltas array<int>")

    # COMPOSITION FOLD (pure Catalyst): per shard, fold the cid-sorted
    # transfer tables; acc = (state, depth, entries[])
    agg = tabs.groupBy("shard").agg(
        F.sort_array(F.collect_list(
            F.struct("cid", "exits", "deltas"))).alias("ts"))
    acc0 = F.struct(
        F.lit(0).alias("st"), F.lit(0).alias("d"),
        F.array().cast(
            "array<struct<cid:long,st:int,d:int>>").alias("hist"))
    fold = F.aggregate(
        F.col("ts"), acc0,
        lambda a, t: F.struct(
            F.element_at(t["exits"], a["st"] + 1).alias("st"),
            (a["d"] + F.element_at(t["deltas"], a["st"] + 1)).alias("d"),
            F.array_append(a["hist"], F.struct(
                t["cid"].alias("cid"), a["st"].alias("st"),
                a["d"].alias("d"))).alias("hist")))
    entry = (agg.select("shard", F.explode(fold["hist"]).alias("e"))
             .select("shard", F.col("e.cid").alias("cid"),
                     F.col("e.st").alias("state"),
                     F.col("e.d").alias("depth")))

    wc = (Window.partitionBy("shard").orderBy("cid")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = ch.select(
        "shard", "cid",
        F.coalesce(F.sum(F.length("chunk")).over(wc), F.lit(0)).alias("base"))
    seeded = ch.join(entry, ["shard", "cid"]).join(base, ["shard", "cid"])

    spans = seeded.mapInPandas(
        _scan, "shard long, cid long, span long, brk long, nbytes long,"
               "colons long, eq long, eb long, bis long"
    ).localCheckpoint(eager=True)

    # rid_shift=-1: the opening '[' is a structural break owning no record
    rec = assemble_records(spans, ["colons", "eq", "eb", "bis"], rid_shift=-1)
    cls = (F.when(F.col("bis") > 0, F.lit(2))
            .when(F.col("eq") > 0, F.lit(1))
            .when(F.col("eb") > 0, F.lit(3))
            .otherwise(F.lit(0)))
    return (rec.select("shard", "rid", "start", "len",
                       F.col("colons").alias("n_keys"),
                       (F.col("eq") + F.col("eb")).alias("esc"),
                       cls.alias("quoted_class"))
            .orderBy("shard", "rid"))


# object length by class: 30 + len(A); A: c0 6, c1 12, c2 13, c3 10
SQL_JSON_SPLIT = f"""
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
         CASE quoted_class WHEN 0 THEN 36 WHEN 1 THEN 42
                           WHEN 2 THEN 43 ELSE 40 END AS len,
         CASE quoted_class WHEN 0 THEN 0 WHEN 2 THEN 0 ELSE 1 END AS esc
  FROM cl
)
SELECT shard, r AS rid,
       CAST(1 + coalesce(sum(len + 1) OVER (PARTITION BY shard ORDER BY r
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start,
       CAST(len AS BIGINT) AS len, CAST(3 AS BIGINT) AS n_keys,
       CAST(esc AS BIGINT) AS esc, quoted_class
FROM len ORDER BY shard, rid
"""


QUERIES = {
    "web_json_split": (g_json_split, SQL_JSON_SPLIT),
}
