"""Loaders for the driver-generated parquet tables (TESTDATA.md).

At scale these reads are the engine's B1 source: plain columnar parquet with
predicate pushdown + column pruning via the DSv2 scan.  (Iceberg catalogs slot
in behind the same call when a runtime jar is present — sandbox has none, see
SURVEY.md §7 R4.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
