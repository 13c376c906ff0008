"""WARC container scan, part 2: ``.warc.gz`` — per-record gzip members
(RFC 1952 framing over the ISO 28500 records of ``web_warc_scan``).

Common Crawl's actual on-disk unit is not bare WARC but warc.gz: every
record compressed as its OWN gzip member, members concatenated, so a reader
can seek to a CDX-indexed member offset and inflate one record without
scanning the file.  ``web_warc_gz`` exercises that full layer on real bytes:

* build: per shard, each document's WARC record (same construction as
  web_warc_scan, decoy ``WARC/1.0`` line every 5th payload) is wrapped in
  its own deterministic gzip member (functions/gzipw.build_member); every
  3rd member carries an FNAME header extension so the walker must honour
  FLG bits, and every 11th member's CRC32 trailer byte is flipped — the
  classic bit-rot defect the parser must FLAG (crc_ok=0), not die on.
* parse: functions/gzipw.parse_members — member ends discovered from the
  deflate stream itself (``unused_data``; members do not store compressed
  length, so guessing or magic-splitting mis-frames), then the inner WARC
  parsed length-driven; the engine asserts exactly one record per member
  and that member lengths tile the shard blob exactly.

The oracle never sees bytes (compressed sizes depend on the deflate
encoder): it re-derives per-shard record counts, inner payload/header byte
sums, the wrapped WARC record lengths, and the planted FNAME / CRC-defect
counts arithmetically from the documents table — a parser that mis-frames
one member or miscounts a flag breaks the shard aggregate.

Scale notes (100 TB): identical layout to web_warc_scan — build+parse in
ONE applyInPandas per shard (the warc.gz FILE unit; blob bytes never shuffle
as a column); in production the builder drops out and parse_members runs as
mapInPandas over (path, blob) straight off the object store, one task per
~1 GB crawl file, memory bounded by file size.  Decompression is per-member
and embarrassingly parallel across files.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import gzipw, warc
from ..sources.tables import load
from .warc_q import response_record, uri_id, sql_response_records

_GZ_SHARDS = 6


def t_warc_gz(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard warc.gz stats from a real build->parse round trip."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = []
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            rec = response_record(did, text)
            fname = f"rec{did}.warc" if did % 3 == 0 else None
            m = bytearray(gzipw.build_member(rec, fname=fname))
            if did % 11 == 0:
                m[-5] ^= 0xFF  # bit-rot the CRC32 trailer
            members.append(bytes(m))
        blob = b"".join(members)
        parsed = gzipw.parse_members(blob)
        if len(parsed) != len(pdf):
            raise ValueError(
                f"parsed {len(parsed)} members from {len(pdf)} inputs")
        if sum(m["member_length"] for m in parsed) != len(blob):
            raise ValueError("member lengths do not tile the shard blob")
        shard = int(pdf["shard"].iloc[0])
        rows = []
        for m in parsed:
            inner = warc.parse_warc(m["payload"])
            if len(inner) != 1:
                raise ValueError(
                    f"member at {m['offset']} holds {len(inner)} records")
            r = inner[0]
            rows.append((shard,
                         uri_id(r["uri"]),
                         r["content_length"], r["header_length"],
                         int(m["fname"] is not None),
                         int(m["crc_ok"]), int(m["isize_ok"])))
        return pd.DataFrame(rows, columns=[
            "shard", "uri_id", "clen", "hlen", "has_fname", "crc_ok",
            "isize_ok"])

    docs = (load(spark, sf, "documents")
            .select("doc_id", "text",
                    (F.col("doc_id") % _GZ_SHARDS).alias("shard")))
    rec = docs.groupBy("shard").applyInPandas(
        per_shard,
        "shard long, uri_id long, clen long, hlen long, has_fname long, "
        "crc_ok long, isize_ok long")
    return (rec.groupBy("shard")
            .agg(F.count("*").alias("n_members"),
                 F.sum("clen").alias("payload_bytes"),
                 F.sum("hlen").alias("header_bytes"),
                 F.sum(F.col("hlen") + F.col("clen") + 4)
                  .alias("wrapped_bytes"),
                 F.sum("uri_id").alias("sum_uri_ids"),
                 F.sum("has_fname").alias("n_fname"),
                 F.sum(1 - F.col("crc_ok")).alias("n_crc_fail"),
                 F.min("isize_ok").alias("all_isize_ok"))
            .orderBy("shard"))


SQL_WARC_GZ = f"""
WITH {sql_response_records(_GZ_SHARDS)}
SELECT shard, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(clen) AS BIGINT) AS payload_bytes,
       CAST(sum(hlen) AS BIGINT) AS header_bytes,
       CAST(sum(hlen + clen + 4) AS BIGINT) AS wrapped_bytes,
       CAST(sum(doc_id) AS BIGINT) AS sum_uri_ids,
       CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fname,
       CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crc_fail,
       CAST(min(1) AS BIGINT) AS all_isize_ok
FROM r GROUP BY shard ORDER BY shard
"""


QUERIES = {
    "web_warc_gz": (t_warc_gz, SQL_WARC_GZ),
}
