"""Web-text pipeline surface over the COMMITTED pages fixture
(tests/fixtures/pages2k.parquet, tools/make_fixtures.py): because the oracle
can read the very same parquet bytes, the Common-Crawl-shaped operators —
html extraction, URL canonicalization, coordinate-precision scrubbing, the
geoparse grammar itself — get full driver hash checks instead of rows-only.

Every regex here stays in the Java-regex ∩ RE2 common subset (see
functions/text.py's single-source grammar note); replacements are written
per-dialect ($1 vs \\1) against the same pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURE_PAGES = os.path.join(_REPO, "tests", "fixtures", "pages2k.parquet")


def _fixture(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(FIXTURE_PAGES)


def latest_per_url(pages: DataFrame) -> DataFrame:
    """B9 url-dedup: each url's latest capture (greatest ``warc_ts``)."""
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (pages.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1).drop("rn"))


def sql_latest_per_url(src: str = f"read_parquet('{FIXTURE_PAGES}')") -> str:
    """The DuckDB twin of ``latest_per_url`` over the table ``src``, as a
    parenthesized relation."""
    return (f"(SELECT * FROM {src} QUALIFY row_number() OVER ("
            "PARTITION BY url ORDER BY warc_ts DESC) = 1)")


def host_sql(col: str) -> str:
    """THE DuckDB restatement of ``parse_url(col, 'HOST')`` — the one
    authority grammar (scheme, optional userinfo@, host stopped at :port /
    path / query / fragment), nullif-wrapped because DuckDB's
    regexp_extract returns '' where Spark returns NULL.  Single-sourced so
    webgraph.py's href-host extraction can't drift from the url-host one."""
    return ("nullif(regexp_extract(" + col + ", "
            "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1), '')")


# ---------------------------------------------------------------------------
# A28 html -> text extraction, oracle-checked byte identity per url
# ---------------------------------------------------------------------------


def extraction_parity(pages: DataFrame) -> DataFrame:
    """A28 contract over (url, lang, warc_ts, html, text) captures: per
    lang, the urls after B9 url-dedup (``n_urls``) and those whose engine
    extraction of html equals the stored text (``n_bytes_identical``)."""
    ext = latest_per_url(pages).withColumn(
        "extracted", tx.extract_text(F.col("html")))
    return ext.groupBy("lang").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(F.col("extracted") == F.col("text"), 1).otherwise(0))
        .cast("long").alias("n_bytes_identical"),
    )


def w_extract_parity(spark: SparkSession, sf: str) -> DataFrame:
    return extraction_parity(_fixture(spark))


def _sql_extract_expr(src: str) -> str:
    """The FULL pinned extraction spec (functions/text.extract_text) as one
    DuckDB expression, entity list generated from the same _ENTITIES table —
    so a regression in ANY spec stage (script/style strip, tag strip, every
    entity, ws collapse) diverges from the oracle, not only the stages the
    fixture happens to exercise.  RE2 has no backreferences, so the one
    script|style alternation becomes two sequential passes (equivalent for
    non-cross-nested blocks)."""
    e = (f"regexp_replace(regexp_replace({src},"
         f" '(?is)<script\\b.*?</script\\s*>', ' ', 'g'),"
         f" '(?is)<style\\b.*?</style\\s*>', ' ', 'g')")
    e = f"regexp_replace({e}, '<[^>]*>', '', 'g')"
    for ent, ch in tx._ENTITIES:  # noqa: SLF001
        e = f"replace({e}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    return f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"


def sql_extraction_parity(src: str) -> str:
    """The DuckDB twin of ``extraction_parity`` over the table ``src``."""
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bytes_identical
FROM (
  SELECT lang, text, {_sql_extract_expr('decode(html)')} AS extracted
  FROM {sql_latest_per_url(src)}
) GROUP BY lang
"""


SQL_EXTRACT_PARITY = sql_extraction_parity(f"read_parquet('{FIXTURE_PAGES}')")

# ---------------------------------------------------------------------------
# URL canonicalization: messy variant -> canon must round-trip to the original
# ---------------------------------------------------------------------------

_TRACK_Q = "?utm_source=feed&utm_medium=rss&utm_campaign=x"
_FRAG = "#sec-2"


def _messy(url):
    """Deterministic messy variant: md5 hex digits gate (a) tracking params,
    (b) a fragment, (c) an uppercased scheme+host — same construction in the
    oracle, so canon(messy) == url is an end-to-end checked invariant."""
    h = F.md5(url)
    pre = F.regexp_extract(url, "^[A-Za-z]+://[^/]*", 0)
    rest = url.substr(F.length(pre) + 1, F.length(url))
    u = F.when(F.substring(h, 3, 1) < "8", F.concat(F.upper(pre), rest)) \
         .otherwise(url)
    u = F.when(F.substring(h, 1, 1) < "8", F.concat(u, F.lit(_TRACK_Q))).otherwise(u)
    u = F.when(F.substring(h, 2, 1) < "8", F.concat(u, F.lit(_FRAG))).otherwise(u)
    return u


def canonicalize_url(u):
    """Strip fragment, drop utm_* params (keep the rest, order preserved),
    lowercase scheme+host, drop a bare trailing '?'."""
    u = F.regexp_replace(u, "#.*", "")
    base = F.regexp_replace(u, r"\?.*", "")
    q = F.regexp_extract(u, r"\?(.*)", 1)
    kept = F.array_join(
        F.filter(F.split(q, "&"), lambda p: ~p.startswith("utm_")), "&")
    pre = F.regexp_extract(base, "^[A-Za-z]+://[^/]*", 0)
    rest = base.substr(F.length(pre) + 1, F.length(base))
    canon_base = F.concat(F.lower(pre), rest)
    return F.when(kept == "", canon_base) \
            .otherwise(F.concat(canon_base, F.lit("?"), kept))


def w_url_canon(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark).select("url")
    out = pg.withColumn("messy", _messy(F.col("url"))) \
            .withColumn("canon", canonicalize_url(F.col("messy")))
    host = F.regexp_extract("url", "^https?://([^/]*)", 1)
    return out.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("canon") == F.col("url"), 1).otherwise(0))
        .cast("long").alias("n_roundtrip_ok"),
        F.sum(F.when(F.col("messy") != F.col("url"), 1).otherwise(0))
        .cast("long").alias("n_mutated"),
    )


SQL_URL_CANON = f"""
WITH pg AS (
  SELECT url, md5(url) AS h,
         regexp_extract(url, '^[A-Za-z]+://[^/]*', 0) AS pre
  FROM read_parquet('{FIXTURE_PAGES}')
), messy AS (
  SELECT url,
    (CASE WHEN substring(h, 3, 1) < '8'
          THEN upper(pre) || substring(url, length(pre) + 1) ELSE url END)
    || (CASE WHEN substring(h, 1, 1) < '8' THEN '{_TRACK_Q}' ELSE '' END)
    || (CASE WHEN substring(h, 2, 1) < '8' THEN '{_FRAG}' ELSE '' END) AS m
  FROM pg
), canon AS (
  SELECT url, m,
         regexp_extract(nf, '^[A-Za-z]+://[^/]*', 0) AS cpre,
         regexp_replace(nf, '\\?.*', '') AS base,
         array_to_string(list_filter(string_split(regexp_extract(nf, '\\?(.*)', 1), '&'),
                                     p -> NOT starts_with(p, 'utm_')), '&') AS kept
  FROM (SELECT url, m, regexp_replace(m, '#.*', '') AS nf FROM messy)
)
SELECT regexp_extract(url, '^https?://([^/]*)', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN lower(cpre) || substring(base, length(cpre) + 1)
                          || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END)
                     = url THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
       CAST(sum(CASE WHEN m <> url THEN 1 ELSE 0 END) AS BIGINT) AS n_mutated
FROM canon GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Coordinate-precision scrub (location privacy: truncate to ~1 km)
# ---------------------------------------------------------------------------

_COORD_PAT = r"(-?[0-9]{1,3}\.[0-9]{2})[0-9]+"


def w_coord_scrub(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark)
    scrubbed = F.regexp_replace(F.col("text"), _COORD_PAT, "$1")
    return (pg.select(
                "lang", "text", scrubbed.alias("scrub"),
                F.regexp_count(F.col("text"), F.lit(_COORD_PAT)).alias("nc"))
              .groupBy("lang").agg(
                  F.count("*").alias("n_docs"),
                  F.sum(F.when(F.col("scrub") != F.col("text"), 1).otherwise(0))
                  .cast("long").alias("n_scrubbed_docs"),
                  F.sum("nc").cast("long").alias("n_coords"),
                  F.sum(F.length("text") - F.length("scrub"))
                  .cast("long").alias("chars_removed")))


SQL_COORD_SCRUB = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN scrub <> text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scrubbed_docs,
       CAST(sum(len(regexp_extract_all(text, '{_COORD_PAT}'))) AS BIGINT)
         AS n_coords,
       CAST(sum(length(text) - length(scrub)) AS BIGINT) AS chars_removed
FROM (
  SELECT lang, text,
         regexp_replace(text, '{_COORD_PAT}', '\\1', 'g') AS scrub
  FROM read_parquet('{FIXTURE_PAGES}')
) GROUP BY lang
"""

# ---------------------------------------------------------------------------
# Geoparse grammar parity (A27): row-level lat/lon via the single-source regex
# ---------------------------------------------------------------------------


def w_geoparse(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark)
    return pg.select("url",
                     tx.parse_lat(F.col("text")).alias("lat"),
                     tx.parse_lon(F.col("text")).alias("lon"))


SQL_GEOPARSE = f"""
SELECT url,
       coalesce(CAST(nullif(regexp_extract(text, '{tx.GEO_URI_RE}', 1), '') AS DOUBLE),
                CAST(nullif(regexp_extract(text, '{tx.PLAIN_PAIR_RE}', 1), '') AS DOUBLE))
         AS lat,
       coalesce(CAST(nullif(regexp_extract(text, '{tx.GEO_URI_RE}', 2), '') AS DOUBLE),
                CAST(nullif(regexp_extract(text, '{tx.PLAIN_PAIR_RE}', 2), '') AS DOUBLE))
         AS lon
FROM read_parquet('{FIXTURE_PAGES}')
"""


def w_host_stats(spark: SparkSession, sf: str) -> DataFrame:
    """B19's parse_url surface: per-host crawl stats (pages, distinct paths,
    language mix) — host extraction via the native ``parse_url`` expression;
    the oracle restates it as the authority regex, exact on the fixture's
    scheme://host/path URLs (no userinfo/port).  Schemeless/malformed URLs
    are NULL-host in Spark but ''-match in DuckDB's regexp_extract, so the
    oracle wraps the extract in nullif(..., '') to align the two."""
    pg = _fixture(spark)
    return (pg.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
              .groupBy("host")
              .agg(F.count("*").alias("n_pages"),
                   F.countDistinct("url").alias("n_urls"),
                   F.countDistinct("lang").alias("n_langs"),
                   F.min("url").alias("first_url")))


def w_host_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host page quota (CCNet/C4-style curation: cap the corpus at K
    pages per host so megasites don't dominate the training mixture).
    Selection is deterministic and RNG-free: rank within host by
    (md5(url), url) — a content hash both engines compute identically — and
    keep rank <= 3.  One shuffle (the host window); at scale the window is
    skew-safe via the salted two-phase form (operators/salt.salted_topk)
    once a host exceeds a reducer."""
    pg = _fixture(spark)
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")), F.col("url"))
    return (pg.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 3)
              .select("host", "url", "rn"))


SQL_HOST_QUOTA = f"""
SELECT host, url, rn FROM (
  SELECT {host_sql("url")} AS host,
         url,
         row_number() OVER (
           PARTITION BY {host_sql("url")}
           ORDER BY md5(url), url) AS rn
  FROM read_parquet('{FIXTURE_PAGES}')
) WHERE rn <= 3
"""


SQL_HOST_STATS = f"""
SELECT {host_sql("url")} AS host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       min(url) AS first_url
FROM read_parquet('{FIXTURE_PAGES}')
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# PII redaction (emails / phone numbers / IPv4) — a first-class training-data
# scrub stage.  The fixture text carries no PII, so a deterministic in-query
# enrichment (keyed on the page number, integer math only — identical in both
# engines) plants emails/phones/IPs in realistic surrounding text; the oracle
# re-derives the enrichment AND the three-stage redaction independently, so a
# regression in any pattern or in the replacement itself breaks the hash.
# ---------------------------------------------------------------------------

_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\+\d{1,3} \d{3} \d{7}"
_IP_PAT = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _enriched_text():
    """text + deterministic PII suffixes gated on the page number."""
    p = F.regexp_extract("url", r"page(\d+)$", 1).cast("int")
    host = F.regexp_extract("url", "^https?://([^/]*)", 1)
    email = F.when(p % 3 == 0, F.concat(F.lit(" Contacto: admin@"), host)) \
             .otherwise(F.lit(""))
    phone = F.when(p % 4 == 0, F.concat(
        F.lit(" Tel: +57 "),
        F.lpad(((p * 7919) % 1000).cast("string"), 3, "0"),
        F.lit(" "),
        F.lpad(((p * 104729) % 10000000).cast("string"), 7, "0"))) \
        .otherwise(F.lit(""))
    ip = F.when(p % 5 == 0, F.concat(
        F.lit(" IP: 10."), (p % 256).cast("string"),
        F.lit("."), ((p * 31) % 256).cast("string"),
        F.lit("."), ((p * 17) % 256).cast("string"))) \
        .otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def w_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential redaction (email -> phone -> IPv4), pure codegen regex —
    at 100 TB this is one narrow projection over the scan, no shuffle until
    the per-lang rollup (map-side combined)."""
    pg = _fixture(spark).withColumn("t0", _enriched_text())
    t1 = F.regexp_replace(F.col("t0"), _EMAIL_PAT, "<EMAIL>")
    pg = pg.withColumn("n_em", F.regexp_count(F.col("t0"), F.lit(_EMAIL_PAT))) \
           .withColumn("t1", t1)
    t2 = F.regexp_replace(F.col("t1"), _PHONE_PAT, "<PHONE>")
    pg = pg.withColumn("n_ph", F.regexp_count(F.col("t1"), F.lit(_PHONE_PAT))) \
           .withColumn("t2", t2)
    t3 = F.regexp_replace(F.col("t2"), _IP_PAT, "<IP>")
    pg = pg.withColumn("n_ip", F.regexp_count(F.col("t2"), F.lit(_IP_PAT))) \
           .withColumn("t3", t3)
    return pg.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_em").cast("long").alias("n_emails"),
        F.sum("n_ph").cast("long").alias("n_phones"),
        F.sum("n_ip").cast("long").alias("n_ips"),
        F.sum(F.length("t3")).cast("long").alias("chars_after"),
    ).orderBy("lang")


SQL_REDACT_PII = f"""
WITH en AS (
  SELECT lang,
         text
         || (CASE WHEN p % 3 = 0 THEN ' Contacto: admin@' || host ELSE '' END)
         || (CASE WHEN p % 4 = 0 THEN ' Tel: +57 '
                || lpad(CAST((p * 7919) % 1000 AS VARCHAR), 3, '0') || ' '
                || lpad(CAST((p * 104729) % 10000000 AS VARCHAR), 7, '0')
              ELSE '' END)
         || (CASE WHEN p % 5 = 0 THEN ' IP: 10.' || CAST(p % 256 AS VARCHAR)
                || '.' || CAST((p * 31) % 256 AS VARCHAR)
                || '.' || CAST((p * 17) % 256 AS VARCHAR)
              ELSE '' END) AS t0
  FROM (
    SELECT lang, text,
           CAST(nullif(regexp_extract(url, 'page(\\d+)$', 1), '') AS INTEGER) AS p,
           regexp_extract(url, '^https?://([^/]*)', 1) AS host
    FROM read_parquet('{FIXTURE_PAGES}')
  )
), st AS (
  SELECT lang, t0,
         regexp_replace(t0, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS t1
  FROM en
), st2 AS (
  SELECT lang, t0, t1,
         regexp_replace(t1, '{_PHONE_PAT}', '<PHONE>', 'g') AS t2
  FROM st
), st3 AS (
  SELECT lang, t0, t1, t2,
         regexp_replace(t2, '{_IP_PAT}', '<IP>', 'g') AS t3
  FROM st2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(t0, '{_EMAIL_PAT}'))) AS BIGINT) AS n_emails,
       CAST(sum(len(regexp_extract_all(t1, '{_PHONE_PAT}'))) AS BIGINT) AS n_phones,
       CAST(sum(len(regexp_extract_all(t2, '{_IP_PAT}'))) AS BIGINT) AS n_ips,
       CAST(sum(length(t3)) AS BIGINT) AS chars_after
FROM st3 GROUP BY lang ORDER BY lang
"""

# ---------------------------------------------------------------------------
# Boilerplate template removal (CCNet/RefinedWeb-style): sentences are masked
# (digit runs -> '#') and a template that appears on >= BOILER_MIN_URLS
# distinct urls of the SAME host is boilerplate.  At 100 TB: the template
# count is one map-side-combined aggregate keyed (host, template), and the
# filter joins back on the same key — AQE-sized, never hinted: (host,
# template) cardinality grows with the corpus, so the join is a runtime
# broadcast at small scale and a hash join on (host, template) at 100 TB.
# No driver-side state.
# ---------------------------------------------------------------------------

BOILER_MIN_URLS = 5

# Sentence separator shared VERBATIM by the Spark (Java regex) and DuckDB
# (RE2) sides — an explicit class, because Java's \s includes \x0B while
# RE2's does not (the engine-desync trap functions/text.py's _SEP rule
# forbids; round-3 ADVICE).
_SENT_SEP = r"\.[ \t\n\r\f]+"


def w_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark)
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    ex = (pg.select("url", host.alias("host"),
                    F.explode(F.split(F.col("text"), _SENT_SEP)).alias("s"))
          .filter(F.length(F.trim(F.col("s"))) > 0)
          .withColumn("m", F.regexp_replace(F.col("s"), r"\d+", "#")))
    tpl = ex.groupBy("host", "m").agg(F.countDistinct("url").alias("n_urls"))
    # no broadcast hint: (host, template) cardinality grows with the corpus
    # (one row per distinct masked sentence), so the join must be AQE-sized —
    # runtime-broadcast at fixture/bench scale, hash join on (host, m) at
    # 100 TB, exactly the two plans the module comment names
    joined = ex.join(tpl, ["host", "m"])
    is_b = F.col("n_urls") >= BOILER_MIN_URLS
    return (joined.groupBy("host").agg(
        F.countDistinct("url").alias("n_pages"),
        F.countDistinct("m").alias("n_templates"),
        F.countDistinct(F.when(is_b, F.col("m"))).alias("n_boiler"),
        F.sum(F.when(is_b, 0).otherwise(F.length("s")))
        .cast("long").alias("chars_kept"),
    ).orderBy("host"))


SQL_BOILERPLATE = f"""
WITH ex AS (
  SELECT url,
         nullif(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1), '')
           AS host,
         unnest(regexp_split_to_array(text, '{_SENT_SEP}')) AS s
  FROM read_parquet('{FIXTURE_PAGES}')
), ex2 AS (
  SELECT url, host, s, regexp_replace(s, '\\d+', '#', 'g') AS m
  FROM ex WHERE length(trim(s)) > 0
), tpl AS (
  SELECT host, m, count(DISTINCT url) AS n_urls FROM ex2 GROUP BY 1, 2
)
SELECT e.host,
       CAST(count(DISTINCT e.url) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT e.m) AS BIGINT) AS n_templates,
       CAST(count(DISTINCT CASE WHEN t.n_urls >= {BOILER_MIN_URLS}
                                THEN e.m END) AS BIGINT) AS n_boiler,
       CAST(sum(CASE WHEN t.n_urls >= {BOILER_MIN_URLS}
                     THEN 0 ELSE length(e.s) END) AS BIGINT) AS chars_kept
FROM ex2 e JOIN tpl t ON e.host = t.host AND e.m = t.m
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Corpus-global paragraph-unit dedup with document recomposition (the CCNet
# dedup stage, Wenzek et al. 2020: hash every paragraph over the WHOLE
# corpus, keep only the first occurrence, rebuild each document from its
# surviving units).  Distinct from web_boilerplate (per-host masked-template
# REMOVAL, no recomposition): here the key is the verbatim unit, the scope is
# corpus-global, the winner is deterministic (min (url, pos) per hash), and
# the output is the recomposed document.  The extraction spec joins <p>
# blocks with spaces, so the dedup unit is the _SENT_SEP sentence — the same
# unit web_boilerplate masks.
#
# Plan shape at 100 TB: three keyed exchanges, all map-side combinable or
# AQE-sized — (1) winner per hash = one groupBy(h) with min(struct(url,pos))
# (a corpus stop-sentence collapses mapper-side), (2) occurrences ⋈ winners
# on h (AQE: runtime broadcast at small scale, hash join at 100 TB — winner
# cardinality grows with the corpus), (3) per-url recomposition groupBy.
# No windows over the fact table, no driver-side state.
# ---------------------------------------------------------------------------


def w_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark)
    ex = (pg.select("url",
                    F.posexplode(F.split(F.col("text"), _SENT_SEP))
                     .alias("pos", "s"))
          .filter(F.length(F.trim(F.col("s"))) > 0)
          .withColumn("h", F.md5(F.col("s"))))
    win = ex.groupBy("h").agg(F.min(F.struct("url", "pos")).alias("w"))
    # no broadcast hint: distinct-unit cardinality grows with the corpus
    flagged = (ex.join(win, "h")
                 .withColumn("kept",
                             (F.col("url") == F.col("w.url"))
                             & (F.col("pos") == F.col("w.pos"))))
    return (flagged.groupBy("url").agg(
                F.count("*").alias("n_sents"),
                F.sum(F.col("kept").cast("long")).alias("n_kept"),
                F.md5(F.array_join(
                    F.expr("transform(array_sort(collect_list("
                           "CASE WHEN kept THEN struct(pos, s) END)), "
                           "x -> x.s)"),
                    ". ")).alias("kept_md5"))
            .orderBy("url"))


SQL_PARAGRAPH_DEDUP = f"""
WITH ex AS (
  SELECT url, i - 1 AS pos, L[i] AS s, md5(L[i]) AS h
  FROM (SELECT url, regexp_split_to_array(text, '{_SENT_SEP}') AS L
        FROM read_parquet('{FIXTURE_PAGES}')),
       unnest(range(1, len(L) + 1)) AS t(i)
  WHERE length(trim(L[i])) > 0
), win AS (
  SELECT h, url AS wurl, pos AS wpos FROM (
    SELECT h, url, pos,
           row_number() OVER (PARTITION BY h ORDER BY url, pos) AS rn
    FROM ex) WHERE rn = 1
), flagged AS (
  SELECT e.url, e.pos, e.s,
         (e.url = w.wurl AND e.pos = w.wpos) AS kept
  FROM ex e JOIN win w ON e.h = w.h
)
SELECT url, CAST(count(*) AS BIGINT) AS n_sents,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN kept THEN s END, '. '
                               ORDER BY pos), '')) AS kept_md5
FROM flagged GROUP BY url ORDER BY url
"""


# ---------------------------------------------------------------------------
# CCNet-style curation FUNNEL as one hash-verified entry (Wenzek et al. 2020
# pipeline order): latest-snapshot-per-url -> pinned-spec html extraction ->
# corpus-global unit dedup with document recomposition -> boilerplate-ratio
# quality gate -> per-host quota.  Output is the per-lang funnel (a count at
# every stage) plus an order-insensitive corpus fingerprint of the final
# recomposed documents, so a value change in ANY stage fails the hash.
#
# Distinct from train_e2e_pipeline (e2e_q.py), which chains the DOC-level
# stages (quality score, exact/near dedup, split, packing); this one chains
# the UNIT-level web stages and measures the funnel itself.
#
# The fixture's only verbatim cross-doc duplication is snapshot replay (the
# latest-window stage removes it), so the unit-dedup stage is exercised by a
# deterministic in-query enrichment — per-host legal/rights boilerplate
# sentences gated on the page number (the established w_redact_pii pattern):
# identical across a host's pages, hence corpus-deduped down to one winner,
# and the oracle re-derives the enrichment independently.
#
# Plan shape at 100 TB, stage by stage: snapshot pick = keyed window over
# url (bounded by snapshots-per-url, never global); extraction+enrichment =
# narrow codegen projection; unit dedup = one map-side-combinable
# groupBy(h).min(struct) + an AQE-sized join back (winner cardinality grows
# with the corpus — forcing broadcast would OOM); recomposition = keyed
# groupBy(url); quality gate = narrow integer filter (2*n_kept > n_sents);
# host quota = keyed window over host (salted two-phase form,
# operators/salt.py, once a host exceeds a reducer); funnel aggs = per-lang
# map-side-combined rollups joined on a 3-row key.  The corpus fingerprint
# is bit_xor over per-doc 60-bit hash prefixes — associative/commutative,
# so it combines map-side and never needs an ordered concat at scale.
# ---------------------------------------------------------------------------

_E2E_QUOTA = 3
_B1 = " Aviso legal y condiciones de uso del sitio "
_B2 = " Todos los derechos reservados por el portal "
_HOST_SQL = host_sql("url")


def _ccnet_enrich(txt, url):
    """txt + per-host boilerplate sentences gated on the page number.
    Each sentence ends '. ' so the _SENT_SEP split yields the identical
    unit string in every position (a trailing-dot final unit would differ
    per doc and silently defeat the dedup)."""
    p = F.regexp_extract(url, r"page(\d+)$", 1).cast("int")
    host = F.parse_url(url, F.lit("HOST"))
    b1 = F.when(p % 2 == 0, F.concat(F.lit(_B1), host, F.lit(". "))) \
          .otherwise(F.lit(""))
    b2 = F.when(p % 3 == 0, F.concat(F.lit(_B2), host, F.lit(". "))) \
          .otherwise(F.lit(""))
    return F.concat(txt, b1, b2)


def w_ccnet_funnel(spark: SparkSession, sf: str) -> DataFrame:
    pg = _fixture(spark)
    latest = latest_per_url(pg)
    doc = latest.select(
        "url", "lang",
        _ccnet_enrich(tx.extract_text(F.col("html")), F.col("url")).alias("t"))
    ex = (doc.select("url", "lang",
                     F.posexplode(F.split(F.col("t"), _SENT_SEP))
                      .alias("pos", "s"))
             .filter(F.length(F.trim(F.col("s"))) > 0)
             .withColumn("h", F.md5(F.col("s"))))
    win = ex.groupBy("h").agg(F.min(F.struct("url", "pos")).alias("w"))
    # fl keeps EVERY unit row (inner join on h always matches); checkpointed
    # because four funnel consumers fan out from it
    fl = (ex.join(win, "h")
            .withColumn("kept",
                        (F.col("url") == F.col("w.url"))
                        & (F.col("pos") == F.col("w.pos")))
            .select("url", "lang", "pos", "s", "kept")
            .localCheckpoint(eager=False))
    per = fl.groupBy("url", "lang").agg(
        F.count("*").alias("n_sents"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.md5(F.array_join(
            F.expr("transform(array_sort(collect_list("
                   "CASE WHEN kept THEN struct(pos, s) END)), "
                   "x -> x.s)"),
            ". ")).alias("doc_md5"))
    qual = per.filter(F.col("n_kept") * 2 > F.col("n_sents"))
    hw = Window.partitionBy(F.parse_url(F.col("url"), F.lit("HOST"))) \
               .orderBy(F.md5(F.col("url")), F.col("url"))
    final = (qual.withColumn("hrn", F.row_number().over(hw))
                 .filter(F.col("hrn") <= _E2E_QUOTA))
    fp = F.conv(F.substring("doc_md5", 1, 15), 16, 10).cast("long")

    s0 = pg.groupBy("lang").agg(F.count("*").alias("n_snapshots"))
    s1 = latest.groupBy("lang").agg(F.count("*").alias("n_urls"))
    s2 = fl.groupBy("lang").agg(
        F.count("*").alias("n_units"),
        F.sum(F.col("kept").cast("long")).alias("n_units_kept"))
    s4 = qual.groupBy("lang").agg(F.count("*").alias("n_docs_quality"))
    s5 = final.withColumn("fp", fp).groupBy("lang").agg(
        F.count("*").alias("n_docs_final"),
        F.expr("bit_xor(fp)").alias("corpus_fp"))
    return (s0.join(s1, "lang", "left").join(s2, "lang", "left")
              .join(s4, "lang", "left").join(s5, "lang", "left")
              .select("lang", "n_snapshots",
                      F.coalesce("n_urls", F.lit(0)).alias("n_urls"),
                      F.coalesce("n_units", F.lit(0)).alias("n_units"),
                      F.coalesce("n_units_kept", F.lit(0))
                       .alias("n_units_kept"),
                      F.coalesce("n_docs_quality", F.lit(0))
                       .alias("n_docs_quality"),
                      F.coalesce("n_docs_final", F.lit(0))
                       .alias("n_docs_final"),
                      F.coalesce("corpus_fp", F.lit(0)).alias("corpus_fp"))
              .orderBy("lang"))


SQL_CCNET_FUNNEL = f"""
WITH latest AS (
  SELECT url, lang, html FROM {sql_latest_per_url()}
), en AS (
  SELECT url, lang,
         {_sql_extract_expr('decode(html)')}
         || CASE WHEN p % 2 = 0 THEN '{_B1}' || host || '. ' ELSE '' END
         || CASE WHEN p % 3 = 0 THEN '{_B2}' || host || '. ' ELSE '' END AS t
  FROM (SELECT url, lang, html,
               CAST(regexp_extract(url, 'page(\\d+)$', 1) AS INT) AS p,
               {_HOST_SQL} AS host
        FROM latest)
), ex AS (
  SELECT url, lang, i - 1 AS pos, L[i] AS s, md5(L[i]) AS h
  FROM (SELECT url, lang, regexp_split_to_array(t, '{_SENT_SEP}') AS L
        FROM en),
       unnest(range(1, len(L) + 1)) AS u(i)
  WHERE length(trim(L[i])) > 0
), win AS (
  SELECT h, url AS wurl, pos AS wpos FROM (
    SELECT h, url, pos,
           row_number() OVER (PARTITION BY h ORDER BY url, pos) AS rn
    FROM ex) WHERE rn = 1
), fl AS (
  SELECT e.url, e.lang, e.pos, e.s,
         (e.url = w.wurl AND e.pos = w.wpos) AS kept
  FROM ex e JOIN win w ON e.h = w.h
), per AS (
  SELECT url, lang, count(*) AS n_sents,
         sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
         md5(coalesce(string_agg(CASE WHEN kept THEN s END, '. '
                                 ORDER BY pos), '')) AS doc_md5
  FROM fl GROUP BY 1, 2
), qual AS (
  SELECT * FROM per WHERE 2 * n_kept > n_sents
), final AS (
  SELECT * FROM (
    SELECT qual.*, row_number() OVER (
             PARTITION BY {_HOST_SQL} ORDER BY md5(url), url) AS hrn
    FROM qual) WHERE hrn <= {_E2E_QUOTA}
), s0 AS (SELECT lang, count(*) AS n_snapshots
          FROM read_parquet('{FIXTURE_PAGES}') GROUP BY 1),
s1 AS (SELECT lang, count(*) AS n_urls FROM latest GROUP BY 1),
s2 AS (SELECT lang, count(*) AS n_units,
              sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_units_kept
       FROM fl GROUP BY 1),
s4 AS (SELECT lang, count(*) AS n_docs_quality FROM qual GROUP BY 1),
s5 AS (SELECT lang, count(*) AS n_docs_final,
              bit_xor(('0x' || substring(doc_md5, 1, 15))::BIGINT)
                AS corpus_fp
       FROM final GROUP BY 1)
SELECT s0.lang, CAST(n_snapshots AS BIGINT) AS n_snapshots,
       CAST(coalesce(n_urls, 0) AS BIGINT) AS n_urls,
       CAST(coalesce(n_units, 0) AS BIGINT) AS n_units,
       CAST(coalesce(n_units_kept, 0) AS BIGINT) AS n_units_kept,
       CAST(coalesce(n_docs_quality, 0) AS BIGINT) AS n_docs_quality,
       CAST(coalesce(n_docs_final, 0) AS BIGINT) AS n_docs_final,
       CAST(coalesce(corpus_fp, 0) AS BIGINT) AS corpus_fp
FROM s0 LEFT JOIN s1 USING (lang) LEFT JOIN s2 USING (lang)
        LEFT JOIN s4 USING (lang) LEFT JOIN s5 USING (lang)
ORDER BY lang
"""


QUERIES = {
    "web_extract_parity": (w_extract_parity, SQL_EXTRACT_PARITY),
    "web_ccnet_funnel": (w_ccnet_funnel, SQL_CCNET_FUNNEL),
    "web_paragraph_dedup": (w_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "web_host_stats": (w_host_stats, SQL_HOST_STATS),
    "web_host_quota": (w_host_quota, SQL_HOST_QUOTA),
    "web_url_canon": (w_url_canon, SQL_URL_CANON),
    "web_coord_scrub": (w_coord_scrub, SQL_COORD_SCRUB),
    "web_geoparse": (w_geoparse, SQL_GEOPARSE),
    "web_redact_pii": (w_redact_pii, SQL_REDACT_PII),
    "web_boilerplate": (w_boilerplate, SQL_BOILERPLATE),
}
