"""WARC container scan — Common Crawl's on-disk format, end to end.

The north-rule corpus is "Common-Crawl-style web pages", and Common Crawl
ships WARC files (ISO 28500): concatenated records, each a CRLF-header
block + ``Content-Length`` payload bytes.  ``web_warc_scan`` exercises the
full container path on real bytes:

* build: one WARC blob per shard (shard = the WARC *file* unit; 8 here,
  one per applyInPandas group) from the documents table, records in doc_id
  order via ``functions/warc.build_record``.
* harden: every 5th payload gets a leading decoy ``WARC/1.0\\r\\n`` line —
  a parser that splits on the magic string instead of walking
  ``Content-Length`` mis-frames the stream and breaks the offset sums.
* parse: ``functions/warc.parse_warc`` — strictly length-driven, returns
  per-record byte offsets, header/payload lengths, and the Target-URI.

The oracle (DuckDB) never sees the bytes: it reconstructs every header
LENGTH arithmetically from the same strings (``strlen`` — bytes, not
chars), derives each record's byte offset with a windowed running sum, and
aggregates the identical per-shard stats — so a single mis-framed record
shifts every later offset and fails the hash.

Scale: build+parse happen inside ONE applyInPandas (one shuffle on the
file key, one Arrow crossing — blob bytes never become a shuffled column);
in production the builder drops out and ``parse_warc`` runs as mapInPandas
over (path, blob) rows straight off the object store, one task per WARC
file — the classic CC ingest layout (files are ~1 GB, so per-task memory
is bounded by file size, not corpus size).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import warc
from ..sources.tables import load

_N_SHARDS = 8
_URI_PREFIX = "https://example.org/d"
_DECOY = "WARC/1.0\r\n"
_CRLF_SQL = "chr(13) || chr(10)"


# ---------------------------------------------------------------------------
# The record frame, one builder per engine: the header string, the url-md5
# shard (the container FILE unit) and the per-shard exclusive offset window
# (a record's byte offset = the sum of the earlier records' sizes in its
# shard).  functions/warc.build_record is the byte-level twin the
# applyInPandas entries build with.
# ---------------------------------------------------------------------------


def warc_header(warc_type: str, uri: Column, content_length: Column) -> Column:
    """The WARC/1.0 header block (CRLF lines, blank-line terminated)."""
    return F.concat(
        F.lit(f"WARC/1.0\r\nWARC-Type: {warc_type}\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nContent-Length: "),
        content_length.cast("string"),
        F.lit("\r\n\r\n"))


def url_shard(n_shards: int) -> Column:
    """The record's shard: the first md5 byte of ``url`` mod ``n_shards``."""
    return F.pmod(F.conv(F.substring(F.md5("url"), 1, 2), 16, 10).cast("long"),
                  F.lit(n_shards))


def shard_offset(size: Column, *order) -> Column:
    """Exclusive running sum of ``size`` within ``shard`` in ``order``."""
    wo = (Window.partitionBy("shard").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, -1))
    return F.coalesce(F.sum(size).over(wo), F.lit(0))


def sql_warc_header(warc_type: str, uri: str, content_length: str,
                    extra: str = "") -> str:
    """The DuckDB twin of ``warc_header`` over SQL expressions; ``extra``
    is a string expression of header lines (each CRLF-terminated) placed
    between WARC-Target-URI and Content-Length, as build_record does."""
    return (f"'WARC/1.0' || {_CRLF_SQL} || "
            f"'WARC-Type: ' || {warc_type} || {_CRLF_SQL} || "
            f"'WARC-Target-URI: ' || {uri} || {_CRLF_SQL} || {extra}"
            f"'Content-Length: ' || CAST({content_length} AS VARCHAR) || "
            f"{_CRLF_SQL} || {_CRLF_SQL}")


def sql_url_shard(n_shards: int) -> str:
    return f"CAST(concat('0x', substring(md5(url), 1, 2)) AS BIGINT) % {n_shards}"


def sql_shard_offset(size: str, order: str) -> str:
    return (f"COALESCE(sum({size}) OVER (PARTITION BY shard ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)")


def response_record(did: int, text: str) -> bytes:
    """Document ``did``'s response record; every 5th payload leads with a
    decoy ``WARC/1.0`` line (SQL twin: ``sql_response_records``)."""
    payload = ((_DECOY if did % 5 == 0 else "") + text).encode("utf-8")
    return warc.build_record(f"{_URI_PREFIX}{did}", payload)


def uri_id(uri: str) -> int:
    return int(uri.removeprefix(_URI_PREFIX))


def sql_response_records(n_shards: int) -> str:
    """CTEs ``d`` (shard, doc_id, payload) and ``r`` (shard, doc_id, clen,
    hlen): the documents' response records, sized without building them."""
    return f"""d AS (
  SELECT doc_id, doc_id % {n_shards} AS shard,
         CASE WHEN doc_id % 5 = 0
              THEN 'WARC/1.0' || {_CRLF_SQL} ELSE '' END || text AS payload
  FROM documents
), r AS (
  SELECT shard, doc_id, CAST(strlen(payload) AS BIGINT) AS clen,
         CAST(strlen({sql_warc_header(
             "'response'", f"'{_URI_PREFIX}' || CAST(doc_id AS VARCHAR)",
             "strlen(payload)")}) AS BIGINT) AS hlen
  FROM d
)"""


def t_warc_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard WARC file stats from a real build->parse round trip:
    (shard, n_records, payload_bytes, header_bytes, sum_offsets,
    sum_uri_ids, file_bytes)."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        parts = [response_record(int(did), text)
                 for did, text in zip(pdf["doc_id"], pdf["text"])]
        recs = warc.parse_warc(b"".join(parts))
        if len(recs) != len(pdf):  # a mis-framed stream must not pass silently
            raise ValueError(
                f"parsed {len(recs)} records from {len(pdf)} inputs")
        shard = int(pdf["shard"].iloc[0])
        return pd.DataFrame(
            [(shard, r["offset"], r["content_length"], r["header_length"],
              uri_id(r["uri"])) for r in recs],
            columns=["shard", "offset", "content_length", "header_length",
                     "uri_id"])

    docs = (load(spark, sf, "documents")
            .select("doc_id", "text",
                    (F.col("doc_id") % _N_SHARDS).alias("shard")))
    rec = docs.groupBy("shard").applyInPandas(
        per_shard,
        "shard long, offset long, content_length long, header_length long, "
        "uri_id long")
    return (rec.groupBy("shard")
            .agg(F.count("*").alias("n_records"),
                 F.sum("content_length").alias("payload_bytes"),
                 F.sum("header_length").alias("header_bytes"),
                 F.sum("offset").alias("sum_offsets"),
                 F.sum("uri_id").alias("sum_uri_ids"),
                 F.sum(F.col("header_length") + F.col("content_length") + 4)
                  .alias("file_bytes"))
            .orderBy("shard"))


SQL_WARC_SCAN = f"""
WITH {sql_response_records(_N_SHARDS)}, o AS (
  SELECT shard, doc_id, clen, hlen,
         {sql_shard_offset("hlen + clen + 4", "doc_id")} AS off
  FROM r
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(clen) AS BIGINT) AS payload_bytes,
       CAST(sum(hlen) AS BIGINT) AS header_bytes,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(doc_id) AS BIGINT) AS sum_uri_ids,
       CAST(sum(hlen + clen + 4) AS BIGINT) AS file_bytes
FROM o GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# web_wet_export — WET conversion records (the OTHER Common Crawl container:
# record type 'conversion', payload = the extracted text of the response it
# refers to).  A user of the CC ecosystem exports WET next to WARC; this
# entry derives the full WET shard geometry — per-record header + payload
# lengths, running byte offsets, extraction yield — from the pages fixture
# with PURE Columns (the only Python crossing is the pinned extract_text
# kernel the parity entry already oracle-gates).  Scale: one per-url window
# (B9 latest), one per-SHARD offset window, one map-side-combined agg; at
# 10^12 pages the shard key is the WET file unit, exactly the production
# layout.  Oracle: the extraction spec is restated via the single-sourced
# _sql_extract_expr and every length/offset re-derived arithmetically —
# the web_warc_scan protocol (a one-byte framing error shifts every later
# offset and breaks the hash).
# ---------------------------------------------------------------------------

_WET_SHARDS = 4


def t_wet_export(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions import text as tx
    from .webtext_q import _fixture, latest_per_url

    ext = latest_per_url(_fixture(spark)).select(
        "url",
        F.length("html").alias("html_bytes"),
        tx.extract_text(F.col("html")).alias("t"))
    rec = ext.select(
        "url", "html_bytes",
        F.octet_length("t").cast("long").alias("clen"),
        url_shard(_WET_SHARDS).alias("shard"))
    hdr = warc_header("conversion", F.col("url"), F.col("clen"))
    sized = rec.withColumn("hlen", F.octet_length(hdr).cast("long"))
    off = sized.withColumn(
        "off", shard_offset(F.col("hlen") + F.col("clen") + 4, "url"))
    return (off.groupBy("shard")
            .agg(F.count("*").alias("n_records"),
                 F.sum("clen").alias("text_bytes"),
                 F.sum("hlen").alias("header_bytes"),
                 F.sum(F.col("hlen") + F.col("clen") + 4).alias("wet_bytes"),
                 F.sum("off").alias("sum_offsets"),
                 F.sum("html_bytes").alias("html_bytes"))
            .withColumn("yield_micro",
                        F.expr("(text_bytes * 1000000) div html_bytes"))
            .orderBy("shard"))


def _sql_wet_export() -> str:
    from .webtext_q import _sql_extract_expr, sql_latest_per_url

    return f"""
WITH rec AS (
  SELECT url,
         CAST(octet_length(html) AS BIGINT) AS html_bytes,
         CAST(strlen({_sql_extract_expr('decode(html)')}) AS BIGINT) AS clen,
         {sql_url_shard(_WET_SHARDS)} AS shard
  FROM {sql_latest_per_url()}
), sized AS (
  SELECT *, CAST(strlen({sql_warc_header("'conversion'", "url", "clen")})
                 AS BIGINT) AS hlen
  FROM rec
), o AS (
  SELECT shard, clen, hlen, html_bytes,
         {sql_shard_offset("hlen + clen + 4", "url")} AS off
  FROM sized
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(clen) AS BIGINT) AS text_bytes,
       CAST(sum(hlen) AS BIGINT) AS header_bytes,
       CAST(sum(hlen + clen + 4) AS BIGINT) AS wet_bytes,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(html_bytes) AS BIGINT) AS html_bytes,
       (CAST(sum(clen) AS BIGINT) * 1000000)
         // CAST(sum(html_bytes) AS BIGINT) AS yield_micro
FROM o GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# web_cdx_index — the CDX capture index (CC's lookup sidecar: one line per
# CAPTURE, keyed by SURT urlkey + 14-digit timestamp, carrying the record's
# byte offset + length inside its WARC shard).  SURT (Sort-friendly URI
# Reordering Transform) reverses the host labels (com,example)/path) so a
# plain lexicographic sort clusters a domain's captures — the 1-D-ification
# of URL space, the web-side analogue of the grid's Morton claim.  Scale:
# urlkey/lengths are pure Column string ops; the one window (offsets) is
# partitioned by the WARC shard key; output is per-capture, exactly the
# .cdx file contents.
# ---------------------------------------------------------------------------

_CDX_SHARDS = 4


def t_cdx_index(spark: SparkSession, sf: str) -> DataFrame:
    from .webtext_q import _fixture

    pg = _fixture(spark)
    host = F.expr("parse_url(url, 'HOST')")
    path = F.regexp_extract(
        "url", r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    urlkey = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", "/").otherwise(path))
    hdr = warc_header("response", F.col("url"), F.length("html"))
    rec = pg.select(
        "url",
        urlkey.alias("urlkey"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts_key"),
        (F.octet_length(hdr) + F.length("html") + 4).cast("long")
        .alias("rec_bytes"),
        url_shard(_CDX_SHARDS).alias("shard"))
    return (rec.withColumn("offset", shard_offset(
                F.col("rec_bytes"), "urlkey", "ts_key", "url"))
            .select("shard", "urlkey", "ts_key", "offset", "rec_bytes")
            .orderBy("shard", "urlkey", "ts_key"))


def _sql_cdx_index() -> str:
    from .webtext_q import FIXTURE_PAGES, host_sql

    return f"""
WITH rec AS (
  SELECT url,
         array_to_string(list_reverse(
           string_split({host_sql('url')}, '.')), ',') || ')' ||
           CASE WHEN regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                THEN '/'
                ELSE regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
           END AS urlkey,
         strftime(warc_ts, '%Y%m%d%H%M%S') AS ts_key,
         CAST(strlen({sql_warc_header("'response'", "url", "octet_length(html)")})
           + octet_length(html) + 4 AS BIGINT) AS rec_bytes,
         {sql_url_shard(_CDX_SHARDS)} AS shard
  FROM read_parquet('{FIXTURE_PAGES}')
)
SELECT shard, urlkey, ts_key,
       {sql_shard_offset("rec_bytes", "urlkey, ts_key, url")} AS offset,
       rec_bytes
FROM rec ORDER BY shard, urlkey, ts_key
"""


# ---------------------------------------------------------------------------
# web_wat_export — the metadata container (WAT) completing the CC trio:
# WARC (web_warc_scan) / WET (web_wet_export) / CDX (web_cdx_index) + WAT.
# One 'metadata' record per page whose payload is a JSON envelope
# carrying the WARC header echo, the actual content length, and the
# extracted outlink list — the exact artifact the web-graph entries would
# consume in production instead of re-parsing html.
# ---------------------------------------------------------------------------

_WAT_SHARDS = 4


def wat_payload_cols():
    """(n_links, payload) Columns over a (url, html) row — THE single
    construction of the WAT JSON envelope (entry + pytest share it; the
    DuckDB oracle restates it independently)."""
    from .webgraph import _LINK_PAT

    h = F.decode(F.col("html"), "UTF-8")
    hrefs = F.regexp_extract_all(h, F.lit(_LINK_PAT), F.lit(1))
    links_json = F.concat(
        F.lit("["),
        F.array_join(F.transform(
            hrefs, lambda x: F.concat(F.lit('{"url":"'), x, F.lit('"}'))),
            ","),
        F.lit("]"))
    payload = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        F.col("url"),
        F.lit('","WARC-Type":"response"},"Payload-Metadata":'
              '{"Actual-Content-Length":'),
        F.octet_length("html").cast("string"),
        F.lit(',"HTML-Metadata":{"Links":'), links_json, F.lit("}}}}"))
    return F.size(hrefs).cast("long"), payload


def t_wat_export(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard WAT geometry over the deterministic link corpus (the
    SAME materialized ``linkpages`` bytes the web-graph entries read, so
    the link lists here are provably the edges web_link_pagerank ranks).

    The JSON envelope is built by raw native concat — the fixture's urls
    and hrefs are JSON-safe by construction ([a-z0-9./:%-] only); a
    production exporter would escape.  ``payload_sum`` is an
    order-independent integer checksum of the payload BYTES (first 13 md5
    hex digits as int64, summed per shard), so the oracle proves the JSON
    byte-identical, not just same-length.  Offsets ride the per-shard
    window exactly like WET/CDX — the shard is the WAT file unit."""
    from .mat import materialize
    from .webgraph import _link_pages

    pg = materialize(_link_pages(spark), "linkpages", key=sf)
    n_links, payload = wat_payload_cols()
    rec = pg.select(
        "url",
        n_links.alias("n_links"),
        payload.alias("payload"),
        url_shard(_WAT_SHARDS).alias("shard"))
    hdr = warc_header("metadata", F.col("url"), F.octet_length("payload"))
    sized = rec.select(
        "url", "n_links", "shard",
        F.octet_length("payload").cast("long").alias("jlen"),
        F.octet_length(hdr).cast("long").alias("hlen"),
        F.conv(F.substring(F.md5("payload"), 1, 13), 16, 10)
         .cast("long").alias("psum"))
    off = sized.withColumn(
        "off", shard_offset(F.col("hlen") + F.col("jlen") + 4, "url"))
    return (off.groupBy("shard")
            .agg(F.count("*").alias("n_records"),
                 F.sum("n_links").alias("n_links"),
                 F.sum("jlen").alias("json_bytes"),
                 F.sum(F.col("hlen") + F.col("jlen") + 4).alias("wat_bytes"),
                 F.sum("off").alias("sum_offsets"),
                 F.sum("psum").alias("payload_sum"))
            .orderBy("shard"))


def _sql_wat_export() -> str:
    from .mat import mat_glob
    from .webgraph import _LINK_PAT

    return f"""
WITH pg AS (
  SELECT url, decode(html) AS h, CAST(octet_length(html) AS BIGINT) AS hb
  FROM read_parquet('{mat_glob("linkpages")}')
), rec AS (
  SELECT url,
         '{{"Envelope":{{"WARC-Header-Metadata":{{"WARC-Target-URI":"'
           || url
           || '","WARC-Type":"response"}},"Payload-Metadata":'
           || '{{"Actual-Content-Length":' || CAST(hb AS VARCHAR)
           || ',"HTML-Metadata":{{"Links":['
           || array_to_string(list_transform(
                regexp_extract_all(h, '{_LINK_PAT}', 1),
                x -> '{{"url":"' || x || '"}}'), ',')
           || ']}}}}}}}}' AS payload,
         CAST(len(regexp_extract_all(h, '{_LINK_PAT}', 1)) AS BIGINT)
           AS n_links,
         {sql_url_shard(_WAT_SHARDS)} AS shard
  FROM pg
), sized AS (
  SELECT url, n_links, shard,
         CAST(octet_length(CAST(payload AS BLOB)) AS BIGINT) AS jlen,
         CAST(strlen({sql_warc_header(
             "'metadata'", "url", "octet_length(CAST(payload AS BLOB))")})
           AS BIGINT) AS hlen,
         CAST(concat('0x', substring(md5(payload), 1, 13)) AS BIGINT) AS psum
  FROM rec
), o AS (
  SELECT shard, n_links, jlen, hlen, psum,
         {sql_shard_offset("hlen + jlen + 4", "url")} AS off
  FROM sized
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(n_links) AS BIGINT) AS n_links,
       CAST(sum(jlen) AS BIGINT) AS json_bytes,
       CAST(sum(hlen + jlen + 4) AS BIGINT) AS wat_bytes,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(psum) AS BIGINT) AS payload_sum
FROM o GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# web_warc_revisit — archive-layer dedup records (the WARC revisit type,
# ISO 28500 §6.7; Common Crawl's identical-payload-digest convention): the
# FIRST capture of a payload digest is stored as a full 'response' record;
# every later capture becomes a 'revisit' record with NO payload, carrying
# WARC-Refers-To-Target-URI / WARC-Refers-To-Date back to the original.
# This is where dedup meets the container: the entry synthesizes 1-3
# captures per document (arithmetic timestamps), elects originals with ONE
# digest-partitioned window (bounded by the duplication factor — the
# train_dedup_exact window class), builds REAL record bytes per shard
# (captures of one doc deliberately scatter across files, so references
# cross file boundaries like production), re-parses with the length-driven
# walker, and reports per-shard storage-vs-logical byte savings.  The
# oracle re-derives every header LENGTH from the same strings and the
# offsets from a windowed running sum — a one-byte error in the revisit
# header layout shifts every later offset and breaks the hash.
# ---------------------------------------------------------------------------

_RV_SHARDS = 4


def t_warc_revisit(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id", "text")
    caps = (docs.select(
                "doc_id", "text",
                F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3))
                 .alias("c"))
                .withColumn("ts", (F.col("doc_id") * 3 + F.col("c") * 7)
                            % 100)
                .withColumn("date", F.format_string(
                    "2024-01-01T00:%02d:%02dZ",
                    (F.col("ts") / 60).cast("int"), F.col("ts") % 60))
                .withColumn("digest", F.md5(F.encode("text", "UTF-8")))
                .withColumn("shard", (F.col("doc_id") + F.col("c") * 11)
                            % _RV_SHARDS))
    w = Window.partitionBy("digest")
    first = F.min(F.struct("ts", "c", "date")).over(w)
    caps = caps.select(
        "doc_id", "c", "shard", "text", "date", "digest",
        ((F.col("ts") == first.getField("ts"))
         & (F.col("c") == first.getField("c"))).alias("is_resp"),
        first.getField("date").alias("ref_date"))

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "c"])
        parts, logical = [], []
        for row in pdf.itertuples():
            uri = f"{_URI_PREFIX}{int(row.doc_id)}"
            payload = row.text.encode("utf-8")
            logical.append(len(payload))
            common = [("WARC-Date", row.date),
                      ("WARC-Payload-Digest", f"md5:{row.digest}")]
            if row.is_resp:
                parts.append(warc.build_record(
                    uri, payload, extra_headers=common))
            else:
                parts.append(warc.build_record(
                    uri, b"", warc_type="revisit",
                    extra_headers=common
                    + [("WARC-Refers-To-Target-URI", uri),
                       ("WARC-Refers-To-Date", row.ref_date)]))
        recs = warc.parse_warc(b"".join(parts))
        if len(recs) != len(pdf):
            raise ValueError(
                f"parsed {len(recs)} records from {len(pdf)} inputs")
        shard = int(pdf["shard"].iloc[0])
        return pd.DataFrame(
            [(shard, r["offset"], r["content_length"], r["header_length"],
              r["warc_type"] == "revisit", lg)
             for r, lg in zip(recs, logical)],
            columns=["shard", "offset", "content_length", "header_length",
                     "is_revisit", "logical_len"])

    rec = caps.groupBy("shard").applyInPandas(
        per_shard,
        "shard long, offset long, content_length long, header_length long, "
        "is_revisit boolean, logical_len long")
    return (rec.groupBy("shard")
            .agg(F.count("*").alias("n_records"),
                 F.sum((~F.col("is_revisit")).cast("long"))
                  .alias("n_response"),
                 F.sum(F.col("is_revisit").cast("long")).alias("n_revisit"),
                 F.sum("content_length").alias("stored_payload_bytes"),
                 F.sum("logical_len").alias("logical_payload_bytes"),
                 (F.sum("logical_len") - F.sum("content_length"))
                  .alias("saved_bytes"),
                 F.sum("offset").alias("sum_offsets"),
                 F.sum(F.col("header_length") + F.col("content_length") + 4)
                  .alias("file_bytes"))
            .orderBy("shard"))


_RV_URI_SQL = f"'{_URI_PREFIX}' || CAST(doc_id AS VARCHAR)"
_RV_HEADER_SQL = sql_warc_header(
    "CASE WHEN is_resp THEN 'response' ELSE 'revisit' END", _RV_URI_SQL,
    "CASE WHEN is_resp THEN strlen(text) ELSE 0 END",
    f"""'WARC-Date: ' || dt || {_CRLF_SQL} ||
           'WARC-Payload-Digest: md5:' || digest || {_CRLF_SQL} ||
           CASE WHEN is_resp THEN '' ELSE
             'WARC-Refers-To-Target-URI: ' || {_RV_URI_SQL} || {_CRLF_SQL} ||
             'WARC-Refers-To-Date: ' || ref_date || {_CRLF_SQL} END || """)

SQL_WARC_REVISIT = f"""
WITH caps AS MATERIALIZED (
  SELECT d.doc_id, t.c, d.text, md5(d.text) AS digest,
         (d.doc_id * 3 + t.c * 7) % 100 AS ts,
         (d.doc_id + t.c * 11) % {_RV_SHARDS} AS shard
  FROM documents d
  JOIN (SELECT i AS c FROM generate_series(0, 2) g(i)) t
    ON t.c <= d.doc_id % 3),
dated AS (
  SELECT *, '2024-01-01T00:' || lpad(CAST(ts // 60 AS VARCHAR), 2, '0')
            || ':' || lpad(CAST(ts % 60 AS VARCHAR), 2, '0') || 'Z' AS dt
  FROM caps),
elect AS (
  SELECT *,
         row_number() OVER (PARTITION BY digest ORDER BY ts, c) = 1
           AS is_resp,
         first_value(dt) OVER (PARTITION BY digest ORDER BY ts, c
                               ROWS BETWEEN UNBOUNDED PRECEDING AND
                               UNBOUNDED FOLLOWING) AS ref_date
  FROM dated),
r AS (
  SELECT shard, doc_id, c, is_resp,
         CAST(strlen(text) AS BIGINT) AS logical_len,
         CAST(CASE WHEN is_resp THEN strlen(text) ELSE 0 END AS BIGINT)
           AS clen,
         CAST(strlen({_RV_HEADER_SQL}) AS BIGINT) AS hlen
  FROM elect),
o AS (
  SELECT shard, is_resp, logical_len, clen, hlen,
         {sql_shard_offset("hlen + clen + 4", "doc_id, c")} AS off
  FROM r)
SELECT shard, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(CASE WHEN is_resp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_response,
       CAST(sum(CASE WHEN is_resp THEN 0 ELSE 1 END) AS BIGINT)
         AS n_revisit,
       CAST(sum(clen) AS BIGINT) AS stored_payload_bytes,
       CAST(sum(logical_len) AS BIGINT) AS logical_payload_bytes,
       CAST(sum(logical_len) - sum(clen) AS BIGINT) AS saved_bytes,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(hlen + clen + 4) AS BIGINT) AS file_bytes
FROM o GROUP BY shard ORDER BY shard
"""


QUERIES = {
    "web_warc_scan": (t_warc_scan, SQL_WARC_SCAN),
    "web_wet_export": (t_wet_export, _sql_wet_export()),
    "web_cdx_index": (t_cdx_index, _sql_cdx_index()),
    "web_wat_export": (t_wat_export, _sql_wat_export()),
    "web_warc_revisit": (t_warc_revisit, SQL_WARC_REVISIT),
}
