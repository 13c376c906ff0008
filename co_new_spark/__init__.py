"""co_new_spark — a from-scratch PySpark-native hierarchical-grid + spatial-join
engine with the query semantics of osm-codes/CO_new (Colombian Hierarchical
Grid), re-expressed Spark-first for 10^12-row web-page tables.

Layout:
    grid/       pure numpy kernels (projection, Morton, codecs, cell algebra)
    functions/  Spark Column expressions + Arrow-batched pandas UDFs
    sources/    readers (parquet dims, reference CSV/GeoJSON) + synthetic pages
    operators/  relational/spatial operators (cover join, kNN, dedup, tiles, ...)
    plans/      session tuning, skew handling, lineage ledger
    streaming/  Structured Streaming pipelines (late-page ingestion)
"""

from .plans import worker as _worker

__version__ = "0.1.0"

# In a Python worker task: stop per-task zip directory re-reads
_worker.install_in_task()
