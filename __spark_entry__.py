"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship pipeline smoke check (sf0.001-scale synthetic pages).
queries()       — every implemented operator (SURVEY.md §2) as (spark, sf_dir) -> DF.
oracle_sql()    — matching DuckDB SQL for the oracle-checkable subset.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic pages -> geoparse -> Grid B geocode -> per-L0 agg.

    The driver's documents table carries no coordinates (TESTDATA/FIXTURES),
    so the pages fact table is self-generated (seeded, deterministic —
    co_new_spark.sources.pages) per FIXTURES.md §1; grid semantics per
    /root/reference/conf.yaml:21-26.
    """
    from co_new_spark.queries.geo_pages import pages_l0_histogram
    from co_new_spark.sources.pages import stored_pages

    return pages_l0_histogram(stored_pages(spark, 5_000)).orderBy("l0")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from co_new_spark.queries import spark_queries

    return spark_queries()


def oracle_sql() -> dict[str, str]:
    from co_new_spark.queries import oracle_sqls

    return oracle_sqls()
