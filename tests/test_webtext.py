"""Semantic invariants of the fixture-backed web-text entries
(queries/webtext_q.py) — the oracle proves Spark==DuckDB; these prove the
ops do what they claim."""

import os

from pyspark.sql import functions as F

from conftest import needs_reference


def test_fixture_exists_and_matches_generator_shape():
    from co_new_spark.queries.webtext_q import FIXTURE_PAGES

    assert os.path.exists(FIXTURE_PAGES)


def test_extract_parity_all_urls_byte_identical(spark):
    from co_new_spark.queries.webtext_q import w_extract_parity

    for r in w_extract_parity(spark, "").collect():
        assert r["n_bytes_identical"] == r["n_urls"], r


def test_url_canon_roundtrips_every_page(spark):
    from co_new_spark.queries.webtext_q import w_url_canon

    rows = w_url_canon(spark, "").collect()
    assert sum(r["n_pages"] for r in rows) == 2000
    for r in rows:
        assert r["n_roundtrip_ok"] == r["n_pages"], r
    # the md5 gates actually mutate a large share — the test isn't vacuous
    assert sum(r["n_mutated"] for r in rows) > 1000


def test_canonicalize_url_unit_cases(spark):
    from co_new_spark.queries.webtext_q import canonicalize_url

    cases = [
        ("HTTPS://Site1.Example.CO/pageX?utm_source=a&keep=1#f",
         "https://site1.example.co/pageX?keep=1"),
        ("https://h/p?utm_a=1&utm_b=2", "https://h/p"),
        ("https://h/p", "https://h/p"),
        ("https://h/p#only-frag", "https://h/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in
           df.select(canonicalize_url(F.col("u")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_coord_scrub_truncates_to_two_decimals(spark):
    from co_new_spark.queries.webtext_q import _COORD_PAT, w_coord_scrub
    from co_new_spark.queries.webtext_q import _fixture

    agg = w_coord_scrub(spark, "").agg(
        F.sum("n_coords").alias("nc"), F.sum("chars_removed").alias("cr"),
        F.sum("n_scrubbed_docs").alias("nd"), F.sum("n_docs").alias("n")).first()
    assert agg["nc"] > 1000          # ~90% of 2000 pages carry a coord pair
    assert agg["cr"] == agg["nc"] * 5  # %.7f -> exactly 5 digits dropped each
    assert 0 < agg["nd"] < agg["n"]  # the 10%-no-coords pages stay untouched
    # and no >2-decimal coordinate survives anywhere
    left = _fixture(spark).select(
        F.regexp_count(F.regexp_replace("text", _COORD_PAT, "$1"),
                       F.lit(_COORD_PAT)).alias("k"))
    assert left.agg(F.sum("k")).first()[0] == 0


def test_geoparse_fixture_rates(spark):
    from co_new_spark.queries.webtext_q import w_geoparse

    out = w_geoparse(spark, "")
    n = out.count()
    n_hit = out.filter(F.col("lat").isNotNull()).count()
    assert n == 2000
    # anchor mix: 90% of pages carry coordinates (70% geo: + 20% plain pair)
    assert 0.85 < n_hit / n < 0.95
    bad = out.filter((F.abs(F.col("lat")) > 90) | (F.abs(F.col("lon")) > 180))
    assert bad.count() == 0


def test_extract_spec_cross_engine_on_adversarial_html(spark):
    """The unexercised spec stages (script/style strip, every entity) agree
    between the pandas kernel and the SQL restatement on hand-built html."""
    import duckdb

    from co_new_spark.functions import text as tx
    from co_new_spark.queries.webtext_q import _sql_extract_expr

    cases = [
        "<html><script type='x'>var a = '<p>no</p>';</script><p>kept</p></html>",
        "<div><style media=all>.x{color:red}</style>a &lt;b&gt; &quot;c&quot;</div>",
        "x &#39;q&#39; y&nbsp;z &amp;amp; w",
        "<p>multi\n  line\t text</p>",
        "<SCRIPT>upper?</SCRIPT>ok",  # (?i) must catch the uppercase tag
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "h string")
    got = [r["e"] for r in
           df.select(tx.extract_text(F.col("h")).alias("e")).collect()]
    con = duckdb.connect()
    for c, g in zip(cases, got):
        want = con.execute("SELECT " + _sql_extract_expr("?"), [c]).fetchone()[0]
        assert g == want, (c, g, want)


def test_redact_pii_removes_every_planted_token(spark):
    """After the three-stage redaction no email/phone/IPv4 pattern survives,
    and the per-lang counts equal the deterministic enrichment gates."""
    from co_new_spark.queries.webtext_q import (
        _EMAIL_PAT, _IP_PAT, _PHONE_PAT, _enriched_text, _fixture,
        w_redact_pii)

    rows = w_redact_pii(spark, "").collect()
    assert sum(r["n_docs"] for r in rows) == 2000
    # gates: p%3 plants an email, p%4 a phone, p%5 an IP — count them directly
    pg = _fixture(spark).withColumn(
        "p", F.regexp_extract("url", r"page(\d+)$", 1).cast("int"))
    gates = pg.select(
        F.sum(F.when(F.col("p") % 3 == 0, 1).otherwise(0)).alias("em"),
        F.sum(F.when(F.col("p") % 4 == 0, 1).otherwise(0)).alias("ph"),
        F.sum(F.when(F.col("p") % 5 == 0, 1).otherwise(0)).alias("ip"),
    ).collect()[0]
    assert sum(r["n_emails"] for r in rows) == gates["em"] > 0
    assert sum(r["n_phones"] for r in rows) == gates["ph"] > 0
    assert sum(r["n_ips"] for r in rows) == gates["ip"] > 0
    # nothing survives: re-running the counters on the redacted text finds 0
    red = _fixture(spark).withColumn("t", _enriched_text())
    for pat in (_EMAIL_PAT, _PHONE_PAT, _IP_PAT):
        red = red.withColumn("t", F.regexp_replace("t", pat, "<X>"))
    leftover = red.select(
        F.sum(F.regexp_count("t", F.lit(_EMAIL_PAT))
              + F.regexp_count("t", F.lit(_PHONE_PAT))
              + F.regexp_count("t", F.lit(_IP_PAT))).alias("n")).collect()[0]["n"]
    assert leftover == 0


def test_boilerplate_partitions_templates_and_masks_digits(spark):
    """Boiler + kept template counts partition n_templates; the dominant
    per-host body template is always detected; chars_kept counts only
    non-boiler sentences."""
    from co_new_spark.queries.webtext_q import BOILER_MIN_URLS, w_boilerplate

    rows = w_boilerplate(spark, "").collect()
    assert len(rows) == 200  # one per host
    assert sum(r["n_boiler"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["n_boiler"] <= r["n_templates"], r
        # the 'Resumen del sitio …' body template is present on EVERY page of
        # a host, so any host with >= BOILER_MIN_URLS pages must flag it;
        # smaller hosts legitimately have none
        if r["n_pages"] >= BOILER_MIN_URLS:
            assert r["n_boiler"] >= 1, r
        else:
            assert r["chars_kept"] > 0, r  # nothing removable on tiny hosts
        assert r["chars_kept"] >= 0


@needs_reference("citycover.csv")
def test_geo_lang_mix_shares_and_plan(spark):
    """Per-municipality language shares sum to 1 (exactly at rounding
    tolerance), langs stay in the closed {es,en,pt,und} set, and the cover
    dim joins BROADCAST (no SortMergeJoin of the fact side)."""
    from collections import defaultdict

    from co_new_spark.queries.geo_pages import g_lang_mix

    df = g_lang_mix(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    rows = df.collect()
    assert rows
    per_muni = defaultdict(float)
    for r in rows:
        assert r["lang"] in {"es", "en", "pt", "und"}
        assert r["isolabel_ext"].startswith("CO-")
        per_muni[r["isolabel_ext"]] += r["share"]
    for muni, tot in per_muni.items():
        assert abs(tot - 1.0) < 1e-4, (muni, tot)
