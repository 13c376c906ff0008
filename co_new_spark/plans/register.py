"""SQL surface registration — the reference's entry point is SQL
(``SELECT libgrid_co.osmcode_encode('geo:…')``, /root/reference/src/assert/
gridLib.sql:6-11); this module exposes the engine kernels under the same
names for ``spark.sql`` users.

UDF registrations wrap the SAME Arrow UDFs as the Column API (no separate
row-at-a-time path), so SQL and DataFrame queries hit identical kernels.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..functions import geo


def register_functions(spark: SparkSession) -> None:
    """Register the grid kernels as SQL functions (idempotent)."""
    spark.udf.register("osmcode_encode", geo.encode_a_from_uri)
    spark.udf.register("osmcode_decode", geo.decode_a_center)
    spark.udf.register("co_cell_from_text", geo._encode_b_cell_from_text_udf(26))  # noqa: SLF001
    spark.udf.register("co_cell_code", geo.cell_b_code)
    spark.udf.register("co_cell_from_code", geo.cell_b_from_code)
    spark.udf.register("co_cell_box", geo.cell_b_box)
    spark.udf.register("co_cell_center", geo.cell_b_center)
    spark.udf.register("b16h_string", geo.b16h_string)


# Native (non-UDF) hierarchy algebra is already SQL-reachable through the
# expression surface: e.g.
#   SELECT shiftright(cell, 6) ...                    -- cell_bits
#   SELECT (shiftright(shiftright(cell,6), k) << 6) | (cell&63)-k  -- parent
# cells_sql builds exactly these; F.expr strings compose with registered UDFs.


def example_sql_pipeline(spark: SparkSession, n_pages: int = 5_000):
    """The gridLib.sql entry-point shape, end-to-end in pure SQL.

    The geoparsed (url, cell) intermediate is materialized (queries/mat.py
    protocol) so a DuckDB oracle can re-derive the L0 rollup — including the
    hierarchy bit-math and the one-digit base16h code — from the same bytes;
    the UDF hash family itself stays gated by the bit-exact codec pytests.

    Registers the kernel UDFs only (``register_functions``) and reads no
    dimension fixture: both statements read ``pages`` and ``valid_pts``.
    """
    from ..queries.mat import materialize
    from ..sources.pages import stored_pages

    register_functions(spark)
    stored_pages(spark, n_pages).createOrReplaceTempView("pages")
    valid = spark.sql("""
        SELECT url, cell FROM (
          SELECT url, co_cell_from_text(text) AS cell FROM pages
        ) WHERE cell >= 0
    """)
    materialize(valid, "sql_surface_pts").createOrReplaceTempView("valid_pts")
    return spark.sql("""
        WITH v AS (
          SELECT url, shiftright(shiftright(cell, 6), (cell & 63) - 4) AS l0
          FROM valid_pts
        )
        SELECT l0, co_cell_code((l0 << 6) | 4) AS l0_code,
               count(*) AS n_pages, count(DISTINCT url) AS n_urls
        FROM v GROUP BY l0 ORDER BY l0
    """)
