"""The shared entry builders against their DuckDB twins at sf0.001:
``geospatial.event_cells`` (the event-point cell encode) against
``cells_cte(...) WHERE cell >= 0``, and the registry entries built on a
shared builder (one per engine) against their oracles, each with its
result hash pinned.  Without these the builders' Spark sides run only in
the slow-marked sweep."""

import pytest
from conftest import SF_DIR

from co_new_spark.queries import oracle_sqls, spark_queries
from co_new_spark.queries.geospatial import _XENG, _YENG, event_cells
from co_new_spark.queries.sql_grid import cells_cte
from co_new_spark.queries.webtext_q import latest_per_url, sql_latest_per_url
from tools.check_oracle import connect, rowset, rowset_sha


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


def test_latest_per_url_keeps_each_urls_latest_capture(spark, con):
    """B9 on captures whose payloads differ: the pages fixture's repeated
    captures of a url carry identical bytes, so no entry output shows
    which capture won."""
    caps = [("a", 1, "a1"), ("a", 3, "a3"), ("a", 2, "a2"), ("b", 5, "b5")]
    df = spark.createDataFrame(caps, "url string, t int, tag string").selectExpr(
        "url", "timestamp_seconds(t) AS warc_ts", "tag")
    out = latest_per_url(df)
    assert out.columns == ["url", "warc_ts", "tag"]
    values = ", ".join(f"('{u}', to_timestamp({t}), '{g}')" for u, t, g in caps)
    src = f"(VALUES {values}) AS c(url, warc_ts, tag)"
    sql = con.execute(f"SELECT tag FROM {sql_latest_per_url(src)}").fetchall()
    assert sorted(r.tag for r in out.collect()) == sorted(t for t, in sql) \
        == ["a3", "b5"]


# (entry, sf0.001 check_oracle.rowset_sha): the sha pin catches drift in
# the same direction on both sides of a shared builder.
PINS = [
    # media_q._per_doc and geospatial.event_cells
    ("mm_wav_decode", "716ee0b6a84c7985"),
    ("mm_gif_decode", "73df2d738737f2f9"),
    ("mm_jpeg_decode", "e75bc732aa16d9ab"),
    ("mm_bmp_decode", "c83a984b6b927661"),
    ("mm_audio_energy", "34cba55bf2a3854e"),
    ("mm_png_decode", "0c3ed3287ebe4337"),
    ("mm_thumbnail", "1abefdc14489bf10"),
    ("geo_pyramid_rollup", "626104363cf24ce9"),
    ("geo_od_matrix", "ddb9a2984d58eeb7"),
    ("geo_staypoints", "7ec68ffaa137cb5f"),
    # warc_q's record frame
    ("web_warc_scan", "4511af54fe6cd83a"),
    ("web_wet_export", "14236cd007509c2a"),
    ("web_cdx_index", "8d3d66f44a1f3cc6"),
    ("web_wat_export", "af6e6fc1de133292"),
    ("web_warc_revisit", "e48e4ab395c6c7d3"),
    ("web_warc_gz", "0420a8329e19b3f1"),
    # operators.ann's cosine top-k and training.sql_cosine
    ("train_knn_brute", "a3f9b7c8a3c83b5d"),
    ("train_knn_lsh", "82bb41719400d166"),
    ("train_knn_ivf", "91e231c7c1708236"),
    ("mm_embed_knn", "ba8a2761e91c4a0c"),
    ("train_rrf_fusion", "e054bd16aa1991a7"),
    ("train_embed_neardup", "8b02b67980b74e2e"),
    # webtext_q.latest_per_url and extraction_parity
    ("web_extract_parity", "ef3c758937bbb29f"),
    ("train_extract_consistency", "2f80963b928a6436"),
    ("web_ccnet_funnel", "57a7c5f2be14d0e4"),
    ("train_e2e_pipeline", "ea7213b74c4c15fe"),
    # webtext_q._fixture, the one fixture reader
    ("geo_pages_l0_histogram", "893cc9e5f823e5e8"),
    ("geo_native_geocode", "29a82229ffb70ebb"),
    ("geo_knn_ring", "e39e1633ac3806c3"),
    # csv_q.chunk_blob
    ("web_csv_split", "7046171d919ccc40"),
    ("web_json_split", "3a018d6a5bd16dad"),
    ("web_grep_split", "435233afcc806d11"),
    # training15._probe_sketch and relational._event_type_stats
    ("train_count_min", "009d4148a342f757"),
    ("train_count_sketch", "d32c0e97038974c7"),
    ("rel_jsonl_scan", "a07928dacb4aaf58"),
    ("rel_orc_roundtrip", "a07928dacb4aaf58"),
    # geo_graph.king_graph
    ("geo_cell_pagerank", "9d1e789b6c6b69f0"),
    ("geo_cell_hops", "dd67ae559b28dc48"),
    ("geo_cost_surface", "dd67ae559b28dc48"),
    ("geo_flow_accum", "410cc59efca0b5cf"),
    ("geo_mst", "9cdd7e0d00eba8a8"),
    ("geo_single_linkage", "91c17bd2a6111b73"),
]


@pytest.mark.parametrize("name, sha", PINS, ids=[n for n, _ in PINS])
def test_builder_entry_matches_oracle(spark, con, name, sha):
    df = spark_queries()[name](spark, SF_DIR)
    res = con.execute(oracle_sqls()[name])
    want = rowset([d[0] for d in res.description], res.fetchall())
    assert want and rowset(df.columns, df.collect()) == want
    assert rowset_sha(want) == sha
