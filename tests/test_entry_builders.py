"""The shared Spark-side entry builders against their DuckDB twins at
sf0.001: ``geospatial.event_cells`` (the event-point cell encode) against
``cells_cte(...) WHERE cell >= 0``, and the registry entries built on it or
on ``media_q._per_doc`` against their oracles.  Without these the builders'
Spark sides run only in the slow-marked sweep."""

import pytest
from conftest import SF_DIR

from co_new_spark.queries import oracle_sqls, spark_queries
from co_new_spark.queries.geospatial import _XENG, _YENG, event_cells
from co_new_spark.queries.sql_grid import cells_cte
from tools.check_oracle import connect, rowset


@pytest.fixture(scope="module")
def con():
    try:
        return connect(SF_DIR)
    except FileNotFoundError as e:
        pytest.skip(str(e))


@pytest.mark.parametrize("r, extra, max_event_id", [
    (2, (), None),
    (26, (), None),
    (4, ("user_id", "ts"), None),
    (8, (), 300),
], ids=["shallow", "deep", "extra", "max_event_id"])
def test_event_cells_matches_cells_cte(spark, con, r, extra, max_event_id):
    df = event_cells(spark, SF_DIR, r, extra=extra, max_event_id=max_event_id)
    assert df.columns == ["event_id", *extra, "x", "y", "cell"]
    keep = ["event_id", *extra]
    where = "" if max_event_id is None else f" WHERE event_id < {max_event_id}"
    src = f"SELECT {', '.join(keep)}, {_XENG} AS x, {_YENG} AS y FROM events{where}"
    cols = [*keep, "cell"]
    got = rowset(cols, df.select(*cols).collect())
    want = rowset(cols, con.execute(
        f"WITH {cells_cte(src, r, keep)} "
        f"SELECT {', '.join(cols)} FROM cells WHERE cell >= 0").fetchall())
    assert got and got == want


@pytest.mark.parametrize("name", [
    "mm_wav_decode", "mm_gif_decode", "mm_jpeg_decode", "mm_bmp_decode",
    "mm_audio_energy", "mm_png_decode", "mm_thumbnail",
    "geo_pyramid_rollup", "geo_od_matrix", "geo_staypoints",
])
def test_builder_entry_matches_oracle(spark, con, name):
    df = spark_queries()[name](spark, SF_DIR)
    res = con.execute(oracle_sqls()[name])
    want = rowset([d[0] for d in res.description], res.fetchall())
    assert want and rowset(df.columns, df.collect()) == want
