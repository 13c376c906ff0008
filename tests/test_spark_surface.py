"""Spark-surface tests: UDF wrappers, native cell algebra, pages source."""

import numpy as np
from pyspark.sql import functions as F

from co_new_spark.functions import cells_sql, geo, text as tx
from co_new_spark.grid import cells as ncells
from co_new_spark.sources.pages import pages
from conftest import needs_reference

ASSERTS = [
    ("geo:3.46103000261,-76.57770034945", "GF1ZDW6NY"),
    ("geo:3.46103208489,-76.57391243547", "GF1ZSNQV7"),
    ("geo:3.45834677198,-76.57390575999", "GF1ZLKNU4"),
    ("geo:3.45834677198,-76.57770076667", "GF1Z6T4KC"),
    ("geo:4.711111,-74.072222", "HX7VGYKPW"),
]


def test_encode_a_udf(spark):
    # "geo:4.,-74.1" is outside the geo: URI grammar (a dot needs digits)
    cases = ASSERTS + [("geo:4.,-74.1", None)]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["uri"])
    out = df.select(
        geo.encode_a(geo.geo_uri_lat(F.col("uri")), geo.geo_uri_lon(F.col("uri"))).alias("c1"),
        geo.encode_a_from_uri(F.col("uri")).alias("c2"),
    ).collect()
    exp = [c for _, c in cases]
    assert [r.c1 for r in out] == exp
    assert [r.c2 for r in out] == exp


def test_cell_b_udf_and_native_algebra(spark):
    df = spark.createDataFrame(
        [(-4.21528, -69.94056), (5.5353, -73.3678), (40.0, -3.7)], ["lat", "lon"]
    )
    out = df.select(
        geo.encode_b_cell(F.col("lat"), F.col("lon"), 12).alias("cell")
    ).withColumn("code", geo.cell_b_code(F.col("cell"))) \
     .withColumn("parent", cells_sql.cell_parent(F.col("cell"), 4)) \
     .withColumn("pcode", geo.cell_b_code(F.col("parent"))) \
     .withColumn("half", geo.cell_b_code(cells_sql.cell_parent(F.col("cell"), 2))) \
     .withColumn("l0", cells_sql.cell_l0_digit(F.col("cell"))) \
     .withColumn("contained", cells_sql.cell_contains(F.col("parent"), F.col("cell"))) \
     .collect()
    assert out[0].code == "a0ec" and out[0].pcode == "a0e" and out[0].l0 == 0xA
    assert out[0].half == "a0eV"  # 2-bit drop = half-cell, suffix V=0b11
    assert out[1].code == "c358" and out[1].l0 == 0xC
    assert out[0].contained and out[1].contained
    assert out[2].cell == -1 and out[2].code is None and out[2].l0 == -1


def test_xy_to_cell_b_matches_sql_every_depth(spark):
    """The kernel's point-to-cell encode equals the oracles' SQL restatement
    (sql_grid.cells_cte) at even and odd refinement (11: n_first !=
    n_second), on the fixture points plus edge inputs: exactly on an L0 edge,
    a ulp inside the far matrix edges, on the far edge, an uncovered ji
    cell, and extreme or non-finite coordinates (-1, not a cast error).
    The global lattice (gi, gj) round-trips through lattice_cell on every
    in-matrix row, also when passed as a compound expression, and is NULL
    off the matrix."""
    import duckdb
    import pandas as pd
    import pyarrow as pa

    from co_new_spark.grid import grids
    from co_new_spark.queries import geo_pages
    from co_new_spark.queries.sql_grid import cells_cte, lattice_cell

    x0, y0, s = grids.L0_ORIGIN_X, grids.L0_ORIGIN_Y, grids.L0_SIDE
    x_far, y_far = x0 + grids.L0_NI * s, y0 + grids.L0_NJ * s
    edge = [
        (x0 + 1 * s, y0 + 2 * s),                    # L0 corner of digit 6
        (np.nextafter(x_far, 0.0), y0 + 0.5 * s),     # last x of digit a
        (x0 + 0.5 * s, np.nextafter(y_far, 0.0)),     # last y of digit 0
        (x_far, y0 + 0.5 * s),                        # on the far edge
        (x0 + 0.5 * s, y0 + 0.5 * s),                 # uncovered ji (0, 0)
        (1e300, y0 + 0.5 * s),
        (x0 + 0.5 * s, -1e300),
        (np.nan, y0 + 2.5 * s),
        (x0 + 2.5 * s, np.inf),
    ]
    pdf = pd.concat([
        pd.read_parquet(geo_pages.FIXTURE_XY, columns=["url", "x", "y"]),
        pd.DataFrame([(f"edge{k}", x, y) for k, (x, y) in enumerate(edge)],
                     columns=["url", "x", "y"])], ignore_index=True)
    xy = spark.createDataFrame(pdf)
    con = duckdb.connect()
    # from numpy, not pandas: a pandas NaN would reach DuckDB as NULL
    con.register("xy", pa.table({c: pa.array(pdf[c].to_numpy()) for c in pdf}))
    for r in (4, 8, 11, 26):
        got = {row.url: row.cell for row in xy.select(
            "url", geo.xy_to_cell_b(F.col("x"), F.col("y"), r).alias("cell"))
            .collect()}
        rows = con.sql(
            f"WITH {cells_cte('SELECT url, x, y FROM xy', r, ['url'])} "
            f"SELECT url, cell, gi, gj, {lattice_cell('gi', 'gj', r)}, "
            f"{lattice_cell('gi - 1 + 1', 'gj', r)}, "
            f"{lattice_cell('-1 - gi', 'gj', r)} FROM cells").fetchall()
        exp = {u: c for u, c, *_ in rows}
        assert got == exp, r
        assert sum(c >= 0 for c in got.values()) > len(got) // 2, r
        assert [got[f"edge{k}"] >= 0 for k in range(len(edge))] == \
            [True, True, True] + [False] * 6, r
        lat = {u: rest for u, *rest in rows}
        assert [lat[f"edge{k}"][1] is None for k in range(len(edge))] == \
            [False] * 3 + [True, False] + [True] * 4, r  # 3, 5-8 off the matrix
        for u, (c, gi, gj, back, back2, neg) in lat.items():
            assert (gi is None) == (gj is None), (r, u)
            if gi is not None:
                assert back == back2 == c and neg == -1, (r, u)
        assert lat["edge4"][0] == lat["edge4"][3] == -1, r  # uncovered ji


def test_native_interval_matches_numpy(spark):
    codes = ["a0ec", "8Z", "c358G", "67d9fM", "0"]
    df = spark.createDataFrame([(c,) for c in codes], ["code"])
    lo, hi = cells_sql.cell_interval(F.col("cell"))
    out = (df.withColumn("cell", geo.cell_b_from_code(F.col("code")))
             .withColumn("lo", lo).withColumn("hi", hi).collect())
    cell_np = ncells.cell_b_from_code(np.array(codes))
    lo_np, hi_np = ncells.interval(cell_np)
    assert [r.lo for r in out] == lo_np.tolist()
    assert [r.hi for r in out] == hi_np.tolist()
    # children native == numpy
    ch = df.withColumn("cell", geo.cell_b_from_code(F.col("code"))) \
           .select(cells_sql.cell_children(F.col("cell"), 2).alias("ch")).collect()
    ch_np = ncells.children(cell_np, 2)
    assert [r.ch for r in ch] == ch_np.tolist()


def test_pages_source_contracts(spark):
    df = pages(spark, 4000, with_truth=True).cache()
    n = df.count()
    assert n == 4000
    # dedup contract: identical html bytes per url
    grp = df.groupBy("url").agg(
        F.countDistinct(F.md5(F.col("html"))).alias("nh"),
        F.count("*").alias("cnt"),
    )
    assert grp.filter(F.col("nh") > 1).count() == 0
    assert grp.filter(F.col("cnt") > 1).count() > 0
    # extraction invariant: extract_text(html) == text byte-identically
    bad = df.withColumn("ex", tx.extract_text(F.col("html"))) \
            .filter(F.col("ex") != F.col("text")).count()
    assert bad == 0
    # language mix
    langs = {r.lang: r.cnt for r in df.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert langs["es"] > langs["en"] > langs["pt"]
    # point distribution: geocode truth, >=30% in L0 'c', some NULLs
    g = df.withColumn("cell", geo.encode_b_cell(F.col("true_lat"), F.col("true_lon"), 12))
    stats = g.agg(
        F.sum(F.when(cells_sql.cell_l0_digit(F.col("cell")) == 0xC, 1).otherwise(0)).alias("in_c"),
        F.sum(F.when(F.col("cell") == -1, 1).otherwise(0)).alias("off"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert stats.in_c / stats.n >= 0.30
    assert 0.005 <= stats.off / stats.n <= 0.05
    df.unpersist()


def test_geoparse_pipeline(spark):
    df = pages(spark, 2000, with_truth=True)
    parsed = df.select(
        "true_lat", "true_lon",
        tx.parse_lat(F.col("text")).alias("lat"),
        tx.parse_lon(F.col("text")).alias("lon"),
    )
    got = parsed.filter(F.col("lat").isNotNull())
    # ~90% of pages carry coordinates in one of the two formats
    assert got.count() / df.count() > 0.80
    err = got.select(
        F.max(F.abs(F.col("lat") - F.col("true_lat"))).alias("e1"),
        F.max(F.abs(F.col("lon") - F.col("true_lon"))).alias("e2"),
    ).collect()[0]
    assert err.e1 < 1e-6 and err.e2 < 1e-6


def test_text_analysis_native(spark):
    df = spark.createDataFrame(
        [("El informe de la ciudad es claro y los datos son buenos",),
         ("The report of the city is clear and the data is good",),
         ("",)],
        ["text"],
    )
    out = df.select(
        tx.token_count(F.col("text")).alias("tc"),
        tx.lang_guess(F.col("text")).alias("lg"),
        tx.quality_score(F.col("text")).alias("q"),
    ).collect()
    assert out[0].tc == 12 and out[0].lg == "es"
    assert out[1].lg == "en"
    assert out[2].tc == 0 and out[2].lg == "und"
    assert 0.0 <= out[0].q <= 1.0


def test_sql_registered_functions_bit_exact(spark):
    """The SQL surface (reference entry-point shape) hits the same kernels:
    osmcode_encode over gridLib.sql's own assert vectors, via spark.sql."""
    from co_new_spark.plans.register import register_functions

    register_functions(spark)
    rows = [("geo:3.46103000261,-76.57770034945", "GF1ZDW6NY"),
            ("geo:4.711111,-74.072222", "HX7VGYKPW")]
    spark.createDataFrame(rows, ["uri", "expected"]).createOrReplaceTempView("v_assert")
    got = spark.sql("SELECT uri, osmcode_encode(uri) AS code, expected FROM v_assert").collect()
    for r in got:
        assert r.code == r.expected, (r.uri, r.code)
    # decode round-trip through SQL
    back = spark.sql(
        "SELECT osmcode_decode(osmcode_encode(uri)) AS c FROM v_assert").collect()
    assert abs(back[0].c.lat - 3.46103000261) < 1e-5


def test_sql_pipeline_matches_dataframe_pipeline(spark):
    from co_new_spark.plans.register import example_sql_pipeline

    out = example_sql_pipeline(spark, 2_000).collect()
    assert len(out) >= 10  # most L0 cells hit
    assert all(len(r.l0_code) == 1 for r in out)  # single base16h digit
    assert sum(r.n_pages for r in out) > 1500


def test_flagship_deterministic_across_runs(spark, standin_cover):
    """Run-twice determinism (SURVEY §5.2.6): the flagship's matched rows
    are identical, ordering aside, across different partitionings of the
    same pages; with every on-grid page covered, no page is lost either."""
    from co_new_spark.operators.cover import flagship

    a, b = (sorted(map(tuple, flagship(pages(spark, 2000, partitions=p),
                                       standin_cover).collect()))
            for p in (2, 7))
    assert a == b and len(a) > 0
    on_grid = pages(spark, 2000).filter(
        geo.encode_b_cell_from_text(F.col("text"), 26) >= 0).count()
    assert len(a) == on_grid


def test_parse_all_geo_uris_multi_hit(spark):
    """A27: every geo: URI in a document is extracted, in order."""
    from co_new_spark.functions.text import parse_all_geo_uris

    txt = ("ver geo:4.711111,-74.072222 y también geo:6.2442,-75.5812 "
           "y coordenadas sueltas 3.451, -76.532 al final")
    df = spark.createDataFrame([(txt,), ("sin coordenadas",)], ["text"])
    got = df.select(parse_all_geo_uris(F.col("text")).alias("hits")).collect()
    hits = got[0].hits
    assert len(hits) == 2
    assert abs(hits[0].lat - 4.711111) < 1e-9 and abs(hits[1].lon + 75.5812) < 1e-9
    assert got[1].hits == []


@needs_reference("citycover.csv")
def test_seat_cells_match_known_seats(spark):
    """A22: decoded overlay centers land near the real municipality seats."""
    from co_new_spark.queries.geo_cover_sql import g_seat_cells

    from co_new_spark.grid import proj

    out = g_seat_cells(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) >= 334  # all non-empty overlays
    assert out.roundtrip_ok.all()  # inverse->forward TM closes within 1e-6 m
    lat, lon = proj.inverse(out.cx.to_numpy(), out.cy.to_numpy())
    out = out.assign(seat_lat=lat, seat_lon=lon)
    let = out[out.isolabel_ext == "CO-AMA-Leticia"].iloc[0]
    assert abs(let.seat_lat - (-4.215)) < 0.2 and abs(let.seat_lon - (-69.94)) < 0.2
    med = out[out.isolabel_ext == "CO-ANT-Medellin"]
    if len(med):
        assert abs(med.iloc[0].seat_lat - 6.244) < 0.3


def test_geoparse_grammar_parity_native_vs_fused(spark):
    """The native (Java regex) and fused (RE2) geoparse paths must agree,
    including on null text and on the pinned [ \\t] pair separator — \\s
    engines disagree on vertical tab / NBSP, so those must parse in NEITHER
    path.  Every parsed row has its own coordinates and plain-pair rows sit
    between geo: rows, so the fused path's fallback (run only over the rows
    the geo: pattern missed) must put each parse back in its own row."""
    from co_new_spark.functions import geo
    from co_new_spark.functions import text as txf

    rows = [
        ("geo:4.711111,-74.072222 x",),       # geo URI
        ("las 6.251840, -75.563591 aqui",),   # space separator
        ("geo:3.451647,-76.532050",),         # geo URI between plain pairs
        ("las 10.391049,\t-75.479426 aqui",),  # tab separator
        ("las 4.711111,\x0b-74.072222 no",),  # vertical tab: must NOT parse
        ("las 4.711111,\u00a0-74.072222 no",),  # NBSP: must NOT parse
        ("sin coordenadas",),
        (None,),                              # null text: no cell in either path
        ("las 7.119349, -73.122742 y geo:5.068890,-75.517380",),  # both: geo: wins
    ]
    df = spark.createDataFrame(rows, "text string").coalesce(1)   # one Arrow batch
    native = df.select(
        geo.encode_b_cell(txf.parse_lat(F.col("text")),
                          txf.parse_lon(F.col("text")), 12).alias("cell")).collect()
    fused = df.select(
        geo.encode_b_cell_from_text(F.col("text"), 12).alias("cell")).collect()
    n = [r.cell for r in native]
    f = [r.cell for r in fused]
    assert n == f, (n, f)
    want = spark.createDataFrame(
        [(4.711111, -74.072222), (6.251840, -75.563591), (3.451647, -76.532050),
         (10.391049, -75.479426), (5.068890, -75.517380)], "lat double, lon double")
    want = [r.cell for r in want.select(geo.encode_b_cell(F.col("lat"), F.col("lon"), 12)
                                        .alias("cell")).collect()]
    assert len(set(want)) == 5 and min(want) >= 0
    assert [n[k] for k in (0, 1, 2, 3, 8)] == want
    assert n[4] == -1 and n[5] == -1 and n[6] == -1 and n[7] == -1


def test_materialize_pages_roundtrip(spark, tmp_path):
    """Stored pages == generated pages (same rows), and re-materializing is
    an idempotent no-op (marker short-circuit)."""
    import os

    from pyspark.sql import functions as F

    from co_new_spark.sources.pages import materialize_pages, pages

    p = str(tmp_path / "pages_rt")
    path = materialize_pages(spark, 1_000, path=p, partitions=4)
    stored = spark.read.parquet(path)
    gen = pages(spark, 1_000, partitions=4)
    assert stored.count() == 1_000
    # order-insensitive equality on the full row set
    h = lambda df: df.select(F.expr("bit_xor(xxhash64(url, text, lang))")).collect()[0][0]
    assert h(stored) == h(gen)
    mtime = os.path.getmtime(os.path.join(path, "_co_pages_meta.json"))
    assert materialize_pages(spark, 1_000, path=p) == path
    assert os.path.getmtime(os.path.join(path, "_co_pages_meta.json")) == mtime


def test_bench_headline_names_resolve():
    """Every bench-suite entry must exist in the query registry — a rename
    in queries/ without a bench.py update would crash the driver's
    per-round bench run."""
    import bench
    from co_new_spark.queries import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dup timings


def test_registry_import_reads_no_reference_file(tmp_path):
    """Building the registry reads no file: it must import with the
    reference directory empty."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("from co_new_spark.queries import REGISTRY; "
            "print(len(REGISTRY))")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, env={**os.environ, "CO_REFERENCE_DIR": str(tmp_path)})
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["262"]
