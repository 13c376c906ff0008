"""Flagship end-to-end pipeline (SURVEY.md §3.4) with lineage + resume (M5).

pages -> geoparse -> Grid B geocode (one Arrow crossing) -> cover lookup
kernel -> per-cell agg -> resumable partitioned write (L0-digit buckets) with
the per-bucket lineage ledger.  Registered rows-only: the returned DataFrame
is the METRICS LEDGER (bucket, n_rows, ...) so the driver check asserts the
whole pipeline ran and committed every bucket.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .mat import run_tmp

from ..functions import cells_sql, geo
from ..operators.cover import cover_lookup_best
from ..plans import lineage
from ..sources.pages import stored_pages
from ..sources.reference_data import load_citycover
from .sql_grid import b16h_code

_PAGES_N = 4000


def geocoded_pages(spark: SparkSession, n: int, rbits: int = 26) -> DataFrame:
    """pages -> (url, lang, cell, l0) — the shared front half of the pipeline.

    Scans the stored pages table (input contract: a stored web-pages table,
    not an inline generator) so every downstream action replans a plain
    parquet scan instead of re-compiling the giant generator projection.
    """
    pg = stored_pages(spark, n)
    return (
        pg.select("url", "lang",
                  geo.encode_b_cell_from_text(F.col("text"), rbits).alias("cell"))
        .filter(F.col("cell") >= 0)
        .withColumn("l0", cells_sql.cell_l0_digit(F.col("cell")))
    )


def p_resumable_flagship(spark: SparkSession, sf: str) -> DataFrame:
    """Run the flagship pipeline twice against one dataset dir: a partial
    'crashed' run (2 buckets), then the resuming run; return the final ledger.

    Driver-visible invariants: one ledger row per non-empty L0 bucket, two
    distinct run_ids (proof the resume path executed), and — via the
    materialized-intermediate oracle — per-bucket committed row counts equal
    to an independent DuckDB count over the very aggregate the write consumed
    (a dropped or double-committed bucket breaks the hash).
    """
    from .mat import materialize

    base = run_tmp("co_flagship_ledger")
    shutil.rmtree(base, ignore_errors=True)

    pts = geocoded_pages(spark, _PAGES_N)
    cover = load_citycover(spark)
    hit = cover_lookup_best(pts.select("url", "lang", "cell", "l0"), cover)
    # Materialize the aggregate once (doubles as the oracle's input and as a
    # plan barrier): resumable_write needs several actions (bucket distinct,
    # write, committed-count read-back) and each would otherwise recompute
    # the full scan -> geoparse -> cover join upstream.
    per_cell = materialize(
        hit.groupBy("l0", "isolabel_ext").agg(F.count("*").alias("n_pages")),
        "flagship_per_cell")

    lineage.resumable_write(per_cell, base, "l0", max_buckets=2)  # simulated crash
    lineage.resumable_write(per_cell, base, "l0")                 # resume
    led = lineage.metrics(spark, base)
    # distinct-run count as a broadcast scalar join, not a global window —
    # the ledger is bucket-sized, but the registry-wide plan gate
    # (tests/test_plan_shapes.py) bans unpartitioned windows outright
    runs = led.agg(F.countDistinct("run_id").alias("__n_runs"))
    return (led.crossJoin(F.broadcast(runs))
            .select(F.col("bucket").alias("l0"),
                    "n_rows",
                    (F.col("__n_runs") >= 2).alias("resumed"))
            .orderBy("l0"))


def _sql_resumable_flagship() -> str:
    from .mat import mat_glob

    return f"""
        SELECT l0, CAST(count(*) AS BIGINT) AS n_rows, true AS resumed
        FROM read_parquet('{mat_glob("flagship_per_cell")}')
        GROUP BY l0 ORDER BY l0
    """


def p_sql_surface(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's SQL entry-point shape (gridLib.sql) end-to-end via
    spark.sql over registered kernel UDFs.  Oracle-checked over the
    materialized geoparse intermediate: DuckDB independently re-derives the
    L0 hierarchy bit-math and the one-digit base16h code (the UDF hash
    family stays pytest-gated bit-exact)."""
    from ..plans.register import example_sql_pipeline

    return example_sql_pipeline(spark)


def _sql_sql_surface() -> str:
    from .mat import mat_glob

    return f"""
        WITH v AS (
          SELECT url, ((cell >> 6) >> ((cell & 63) - 4)) AS l0
          FROM read_parquet('{mat_glob("sql_surface_pts")}')
        )
        SELECT l0, {b16h_code('l0', 4)} AS l0_code,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls
        FROM v GROUP BY l0 ORDER BY l0
    """


def p_upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE-INTO over the ledgered store: write a url-keyed dataset, then
    upsert late re-crawls (same urls, newer warc_ts, different lang tag) +
    brand-new urls; return per-bucket counts with the commit count.

    Oracle-checked via materialized inputs: both the base table and the
    update batch are written to the mat protocol's parquet, and the DuckDB
    oracle re-derives latest-per-url MERGE semantics independently
    (row_number over ts DESC), then compares against what the ledgered store
    ACTUALLY contains after upsert_latest — a lost update, duplicated key, or
    mis-bucketed row breaks the hash.  n_commits == 2 gates exactly-once
    ledger appends.
    """
    from .mat import materialize

    base = run_tmp("co_upsert_ledger")
    shutil.rmtree(base, ignore_errors=True)

    pts = geocoded_pages(spark, 2_000).withColumn(
        "ts", F.lit(1).cast("long"))
    # materialize = oracle input + plan barrier (feeds 2 writes + 2 views)
    rows = materialize(
        pts.select("url", "lang", "cell", "l0", "ts").dropDuplicates(["url"]),
        "upsert_base")
    lineage.resumable_write(rows, base, "l0")

    recrawl = (rows.filter(F.col("l0").isin([3, 12]))
                   .orderBy("url").limit(200)
                   .withColumn("lang", F.lit("und"))
                   .withColumn("ts", F.lit(2).cast("long")))
    fresh = rows.orderBy("url").limit(10).select(
        F.concat(F.col("url"), F.lit("?v=2")).alias("url"),
        "lang", "cell", "l0", F.lit(2).cast("long").alias("ts"))
    updates = materialize(recrawl.unionByName(fresh), "upsert_updates")
    lineage.upsert_latest(updates, base, "url", "ts", "l0")

    ds = lineage.dataset(spark, base, "l0")
    n_commits = lineage.snapshots(spark, base).count()
    return (ds.groupBy("l0").agg(
                F.count("*").alias("n_urls"),
                F.sum(F.when(F.col("lang") == "und", 1).otherwise(0))
                .alias("n_updated"))
              .withColumn("n_commits", F.lit(n_commits).cast("long"))
              .orderBy("l0"))


def _sql_upsert_merge() -> str:
    from .mat import mat_glob

    return f"""
        WITH unioned AS (
          SELECT url, lang, l0, ts FROM read_parquet('{mat_glob("upsert_base")}')
          UNION ALL
          SELECT url, lang, l0, ts FROM read_parquet('{mat_glob("upsert_updates")}')
        ), latest AS (
          SELECT *, row_number() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
          FROM unioned
        )
        SELECT l0,
               CAST(count(*) AS BIGINT) AS n_urls,
               CAST(sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_updated,
               CAST(2 AS BIGINT) AS n_commits
        FROM latest WHERE rn = 1
        GROUP BY l0 ORDER BY l0
    """


def p_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot time travel over the ledgered store (the Iceberg `VERSION AS
    OF` verb, SURVEY §7 R4): two append-only commits land disjoint bucket
    sets (incremental ingest — each run delivers new partitions), then the
    dataset is read both AS OF the first commit and at the current head.

    ``dataset_at`` resolves visibility from ledger commit times alone, so the
    as-of view must contain exactly the first run's buckets — a bucket
    leaking across the cutoff (or the head view missing one) breaks the
    hash against the DuckDB re-derivation over the materialized aggregate.
    Append-only is the contract: rewriting verbs (upsert/compaction) create
    new snapshots that supersede time travel to older ones, as documented in
    plans/lineage.py.
    """
    from .mat import materialize

    base = run_tmp("co_timetravel_ledger")
    shutil.rmtree(base, ignore_errors=True)

    pts = geocoded_pages(spark, 2_000)
    per_cell = materialize(
        pts.groupBy("l0", "lang").agg(F.count("*").alias("n_pages")),
        "tt_cells")

    lineage.resumable_write(per_cell.filter(F.col("l0") % 2 == 0), base, "l0")
    run1 = lineage.snapshots(spark, base).orderBy("committed_at") \
                  .collect()[0]["run_id"]
    lineage.resumable_write(per_cell.filter(F.col("l0") % 2 != 0), base, "l0")

    old = lineage.dataset_at(spark, base, run1, "l0").groupBy("l0").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_pages").alias("n_pages")).withColumn(
        "view", F.lit("as_of_run1"))
    cur = lineage.dataset(spark, base, "l0").groupBy("l0").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_pages").alias("n_pages")).withColumn(
        "view", F.lit("head"))
    return (old.unionByName(cur)
               .select("view", "l0", "n_rows",
                       F.col("n_pages").cast("long").alias("n_pages"))
               .orderBy("view", "l0"))


def _sql_time_travel() -> str:
    from .mat import mat_glob

    return f"""
        WITH cells AS (
          SELECT l0, n_pages FROM read_parquet('{mat_glob("tt_cells")}')
        )
        SELECT 'as_of_run1' AS view, l0, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_pages) AS BIGINT) AS n_pages
        FROM cells WHERE l0 % 2 = 0 GROUP BY l0
        UNION ALL
        SELECT 'head' AS view, l0, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_pages) AS BIGINT) AS n_pages
        FROM cells GROUP BY l0
        ORDER BY view, l0
    """


def p_cluster_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Sort-order rewrite maintenance (Iceberg ``rewrite_data_files`` with a
    sort order): commit the geocoded fact arrival-ordered, then
    ``cluster_files`` rewrites every bucket range-partitioned + sorted by the
    Morton cell id — the layout that makes spatial range scans skip most
    row groups/files on min/max stats.

    The oracle reads the POST-rewrite store: per-bucket counts, distinct
    urls and the cell span must equal an independent DuckDB derivation over
    the materialized input (a row lost/duplicated/mis-bucketed by the
    rewrite breaks the hash), and n_commits == 2 gates the atomic ledger
    append.  The stats-narrowing effect itself is pytest-gated
    (tests/test_lineage_salt.py row-group min/max spans).
    """
    from .mat import materialize

    base = run_tmp("co_cluster_ledger")
    shutil.rmtree(base, ignore_errors=True)

    rows = materialize(
        geocoded_pages(spark, 2_000).select("url", "lang", "cell", "l0"),
        "cluster_rows")
    lineage.resumable_write(rows, base, "l0")
    lineage.cluster_files(spark, base, "cell", "l0", files_per_bucket=2)

    ds = lineage.dataset(spark, base, "l0")
    n_commits = lineage.snapshots(spark, base).count()
    return (ds.groupBy("l0").agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("url").alias("n_urls"),
                F.min("cell").alias("min_cell"),
                F.max("cell").alias("max_cell"))
              .withColumn("n_commits", F.lit(n_commits).cast("long"))
              .orderBy("l0"))


def _sql_cluster_layout() -> str:
    from .mat import mat_glob

    return f"""
        SELECT l0, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
               min(cell) AS min_cell, max(cell) AS max_cell,
               CAST(2 AS BIGINT) AS n_commits
        FROM read_parquet('{mat_glob("cluster_rows")}')
        GROUP BY l0 ORDER BY l0
    """


def p_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Additive schema evolution (the Iceberg ADD COLUMN contract): commit 1
    lands the v1 writer's schema (url, lang, l0), commit 2 appends rows from
    an upgraded writer carrying a NEW ``cell`` column; the head read merges
    schemas, so v1 rows surface NULL cells with their data files untouched
    on disk.  Returned shape: per (l0, generation) row counts + cell stats,
    where generation is derived FROM the merged read (cell IS NULL ⇔ v1) —
    a reader that dropped v1 buckets, failed to NULL-fill, or leaked the new
    column into old rows breaks the hash against the DuckDB re-derivation
    over the materialized input."""
    from .mat import materialize

    base = run_tmp("co_schema_evo_ledger")
    shutil.rmtree(base, ignore_errors=True)

    rows = materialize(
        geocoded_pages(spark, 2_000).select("url", "lang", "cell", "l0"),
        "schema_evo_rows")
    lineage.resumable_write(rows.filter(F.col("l0") % 2 == 0)
                                .select("url", "lang", "l0"), base, "l0")
    lineage.resumable_write(rows.filter(F.col("l0") % 2 != 0), base, "l0")

    ds = lineage.dataset(spark, base, "l0", merge_schema=True)
    return (ds.withColumn("generation",
                          F.when(F.col("cell").isNull(), "v1").otherwise("v2"))
              .groupBy("l0", "generation")
              .agg(F.count("*").alias("n_rows"),
                   F.countDistinct("url").alias("n_urls"),
                   F.min("cell").alias("min_cell"))
              .orderBy("l0", "generation"))


def _sql_schema_evolution() -> str:
    from .mat import mat_glob

    return f"""
        WITH rows AS (SELECT * FROM read_parquet('{mat_glob("schema_evo_rows")}'))
        SELECT l0, CASE WHEN l0 % 2 = 0 THEN 'v1' ELSE 'v2' END AS generation,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
               CASE WHEN l0 % 2 = 0 THEN NULL ELSE min(cell) END AS min_cell
        FROM rows GROUP BY l0 ORDER BY l0, generation
    """


def p_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction (Iceberg ``rewrite_data_files``): the geocoded
    fact is committed deliberately FRAGMENTED (32-way repartition before the
    bucket write, so every L0 bucket lands as many small files), then
    ``compact_files`` rewrites each bucket into ONE file as a new snapshot.

    The returned shape proves both halves from the post-rewrite store:
    per-bucket content stats must equal an independent DuckDB derivation
    over the materialized input (a row lost/duplicated by the rewrite breaks
    the hash), and ``n_files`` — counted via input_file_name() — must be
    exactly 1 per bucket (the layout goal), with n_commits = 2 gating the
    atomic ledger append."""
    from .mat import materialize

    base = run_tmp("co_compact_ledger")
    shutil.rmtree(base, ignore_errors=True)

    rows = materialize(
        geocoded_pages(spark, 2_000).select("url", "lang", "cell", "l0"),
        "compact_rows")
    lineage.resumable_write(rows.repartition(32), base, "l0")
    lineage.compact_files(spark, base, "l0", target_partitions=1)

    # input_file_name() only supports single-source plans, so the file count
    # runs on the RAW store scan (not dataset()'s ledger semi-join) — after
    # the compaction commit the raw store IS the committed content, and any
    # leftover pre-rewrite file would break the content hash below
    ds = spark.read.parquet(os.path.join(base, "data"))
    n_commits = lineage.snapshots(spark, base).count()
    return (ds.withColumn("__f", F.input_file_name())
              .groupBy("l0").agg(
                  F.count("*").alias("n_rows"),
                  F.countDistinct("url").alias("n_urls"),
                  F.min("cell").alias("min_cell"),
                  F.max("cell").alias("max_cell"),
                  F.countDistinct("__f").alias("n_files"))
              .withColumn("n_commits", F.lit(n_commits).cast("long"))
              .orderBy("l0"))


def _sql_compaction() -> str:
    from .mat import mat_glob

    return f"""
        SELECT l0, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
               min(cell) AS min_cell, max(cell) AS max_cell,
               CAST(1 AS BIGINT) AS n_files,
               CAST(2 AS BIGINT) AS n_commits
        FROM read_parquet('{mat_glob("compact_rows")}')
        GROUP BY l0 ORDER BY l0
    """


QUERIES = {
    "pipeline_resumable_flagship": (p_resumable_flagship, _sql_resumable_flagship()),
    "pipeline_compaction": (p_compaction, _sql_compaction()),
    "pipeline_schema_evolution": (p_schema_evolution, _sql_schema_evolution()),
    "pipeline_time_travel": (p_time_travel, _sql_time_travel()),
    "pipeline_cluster_layout": (p_cluster_layout, _sql_cluster_layout()),
    "pipeline_sql_surface": (p_sql_surface, _sql_sql_surface()),
    "pipeline_upsert_merge": (p_upsert_merge, _sql_upsert_merge()),
}
