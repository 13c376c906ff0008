"""Tests for the SQL-oracle cover/shortcode surface (geo_cover_sql), the
logistic base32nvu short-code round-trip, the synonym_ref provenance dim,
and the montañitas real-fixture ring (/root/reference/data/montañitas.geojson
— the closed LineString through the four gridLib assert points)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from co_new_spark.sources import reference_data
from conftest import needs_reference

SF = "/root/testdata/sf0.01"
# small scale for collect()-heavy set-comparison tests
SF_SMALL = "/root/testdata/sf0.001"


@needs_reference("synonym.csv", "synonym_ref.csv")
def test_synonym_ref_parse(spark):
    from co_new_spark.sources.reference_data import load_synonym, load_synonym_ref

    ref = load_synonym_ref(spark)
    rows = ref.collect()
    assert len(rows) == 5
    assert {r.abbrevref_id for r in rows} == {1, 2, 3, 4, 5}
    # JSON info column parses (all '{}' in the fixture -> empty maps, not NULL)
    assert all(r.info_map == {} for r in rows)
    # provenance join: every default abbreviation resolves to a named source
    syn = load_synonym(spark).filter(F.col("default_abbrev"))
    joined = syn.join(F.broadcast(ref), "abbrevref_id", "left")
    n_syn = syn.count()
    assert joined.filter(F.col("name").isNotNull()).count() == n_syn


@needs_reference("citycover.csv", "synonym.csv", "synonym_ref.csv")
def test_shortcode_log_roundtrip(spark):
    """Every logistic code decodes back to exactly its aligned cell, O(1).

    Decode = abbrev -> isolabel (default-abbrev dim is 1:1); the suffix's
    first base32nvu digit indexes the cover cell within the jurisdiction's
    (deterministically ordered) cover list; the remaining digits are the
    bits below that prefix.  No search, no ambiguity.
    """
    from co_new_spark.grid.codec import B32NVU_ALPHABET, b32nvu_decode
    from co_new_spark.queries.geo_cover_sql import _PT_DEPTH, g_shortcode_log
    from co_new_spark.sources.reference_data import _cover_pdf, load_synonym

    rows = g_shortcode_log(spark, SF).collect()
    assert len(rows) > 500

    cov = _cover_pdf()
    cov = cov[cov.kind == "cover"]
    covers: dict[str, list[tuple[int, int]]] = {}
    for iso, cell in zip(cov["isolabel_ext"], cov["cell"]):
        covers.setdefault(iso, []).append((int(cell) >> 6, int(cell) & 63))
    # decode order = encode order: rank by packed cell id
    for iso in covers:
        covers[iso].sort(key=lambda t: t[0] * 64 + t[1])

    syn = load_synonym(spark).filter(F.col("default_abbrev")) \
        .select("abbrev", "isolabel_ext").collect()
    abbrev_to_iso = {r.abbrev: r.isolabel_ext for r in syn}
    assert len(abbrev_to_iso) == len(syn)  # default abbrevs are unique

    for r in rows:
        ab, sfx_code = r.shortcode.rsplit("-", 1)
        iso = abbrev_to_iso.get(ab, ab)
        assert iso == r.isolabel_ext, r
        idx = B32NVU_ALPHABET.index(sfx_code[0])
        cb, cd = covers[iso][idx]
        sbits, snb = b32nvu_decode(np.array([sfx_code[1:]], dtype=object))
        sbits, snb = int(sbits[0]), int(snb[0])
        assert snb > 0 and snb % 5 == 0, r
        assert snb == ((_PT_DEPTH - cd) // 5) * 5, r  # alignment rule
        decoded_cell = ((cb << snb) | sbits) * 64 + (cd + snb)
        assert decoded_cell == r.cell_aligned, (r, decoded_cell)


@needs_reference("citycover.csv", "synonym.csv", "synonym_ref.csv")
def test_shortcode_log_provenance(spark):
    from co_new_spark.queries.geo_cover_sql import g_shortcode_log

    df = g_shortcode_log(spark, SF)
    src = {r.abbrev_source for r in df.select("abbrev_source").distinct().collect()}
    # every matched jurisdiction has a default abbrev in the fixture, and all
    # defaults trace to a synonym_ref row (names, never the '' fallback)
    assert src and "" not in src
    assert src <= {"Alex", "optim", "oficialuy", "registrobr", "A4a"}


@pytest.fixture(scope="module")
def montanitas_ring():
    from co_new_spark.grid import proj

    with open(os.path.join(reference_data.REF_DIR, "data", "montañitas.geojson"),
              encoding="utf-8") as f:
        gj = json.load(f)
    coords = np.asarray(gj["features"][0]["geometry"]["coordinates"], dtype=np.float64)
    assert np.allclose(coords[0], coords[-1])  # already closed
    x, y = proj.forward(coords[:, 1], coords[:, 0])
    return np.stack([x, y], axis=1)


@needs_reference("montañitas.geojson")
def test_montanitas_cover_and_pip(spark, montanitas_ring):
    """The reference's montañitas ring as a real fixture: polygon_cover area
    partition holds, interior points PIP-match, and each inset corner point's
    deep cell descends from an emitted cover cell."""
    from co_new_spark.grid import grids
    from co_new_spark.grid.geometry import shoelace_area
    from co_new_spark.operators.cover_gen import polygon_cover
    from co_new_spark.operators.pip import point_in_rings

    ring = montanitas_ring
    cover = polygon_cover(spark, ring, base_depth=8, max_depth=28).collect()
    assert cover, "empty cover for a real ring"
    total = sum(r.area_m2 for r in cover)
    want = abs(shoelace_area(ring))
    assert want > 0
    assert abs(total - want) / want < 1e-6, (total, want)

    # inset corner points (25% toward centroid) are inside the ring and land
    # in cells covered by (descending from) the produced cover
    centroid = ring[:-1].mean(axis=0)
    inset = ring[:-1] * 0.75 + centroid * 0.25
    inside = point_in_rings(inset[:, 0], inset[:, 1], [ring])
    assert inside.all()

    bits, valid = grids.grid_b_encode_xy(inset[:, 0], inset[:, 1], 26)
    assert valid.all()
    cover_set = {(int(r.cell) >> 6, int(r.cell) & 63) for r in cover}
    for b in bits:  # depth 30 = 4 + 26 by construction
        assert any(cd <= 30 and (int(b) >> (30 - cd)) == cb
                   for cb, cd in cover_set), "corner cell outside cover"


def test_hilbert_properties_and_column_parity(spark):
    """grid/hilbert.py: bijective + unit-step adjacent on full lattices;
    the native Column unroll (with_hilbert_index) is bit-exact vs numpy."""
    from co_new_spark.functions import cells_sql
    from co_new_spark.grid import hilbert

    for order in (1, 2, 4, 6):
        n = 1 << order
        xs, ys = np.meshgrid(np.arange(n, dtype=np.uint64),
                             np.arange(n, dtype=np.uint64))
        xs, ys = xs.ravel(), ys.ravel()
        d = hilbert.xy_to_d(xs, ys, order)
        assert sorted(d.tolist()) == list(range(n * n))
        x2, y2 = hilbert.d_to_xy(d, order)
        assert (x2 == xs).all() and (y2 == ys).all()
        idx = np.argsort(d)
        ox, oy = xs[idx].astype(np.int64), ys[idx].astype(np.int64)
        assert (np.abs(np.diff(ox)) + np.abs(np.diff(oy)) == 1).all()

    order = 7
    rng = np.random.default_rng(7)
    gx = rng.integers(0, 1 << order, 500)
    gy = rng.integers(0, 1 << order, 500)
    want = hilbert.xy_to_d(gx.astype(np.uint64), gy.astype(np.uint64), order)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(gx, gy)], "gx long, gy long")
    got = cells_sql.with_hilbert_index(df, F.col("gy"), F.col("gx"), order) \
        .select("gx", "gy", "hd").collect()
    lut = {(r.gx, r.gy): r.hd for r in got}
    for a, b, w in zip(gx, gy, want):
        assert lut[(int(a), int(b))] == int(w)


@needs_reference("citycover.csv")
def test_sabaneta_2bit_cover_end_to_end(spark):
    """The 2-bit suffix family (H/M/R/V, depth 22) exercised through the real
    cover path: CO-ANT-Sabaneta's cover (citycover.csv:99) is ENTIRELY
    5-hex+2-bit cells — a point at every cover-cell center resolves through
    the per-depth cover lookup to exactly that cell, matching an
    independent python prefix-scan over the whole dim."""
    import pandas as pd

    from co_new_spark.functions import geo
    from co_new_spark.grid import cells as C
    from co_new_spark.operators.cover import cover_best_with_cell
    from co_new_spark.sources.reference_data import _cover_pdf, load_citycover

    pdf = _cover_pdf()
    cov = pdf[pdf.kind == "cover"]
    sab = cov[cov.isolabel_ext == "CO-ANT-Sabaneta"]
    cell_ids = sab["cell"].to_numpy(np.int64)
    assert len(cell_ids) == 25
    assert (C.depth(cell_ids) == 22).all()          # all 5-hex + 2-bit
    assert set(sab["code"].str[-1]) == {"H", "M", "R", "V"}  # whole family

    cx, cy = C.cell_b_center(cell_ids)
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(len(cell_ids)), "x": cx, "y": cy}))
    rbits = 26                                      # point depth 30
    got = (cover_best_with_cell(
        pts.withColumn("cell", geo.xy_to_cell_b(F.col("x"), F.col("y"), rbits)),
        load_citycover(spark), "cell")
        .select("pid", "isolabel_ext", "cover_cell").collect())
    assert len(got) == len(cell_ids)

    # independent expectation: full prefix scan of the dim in numpy
    from co_new_spark.grid import grids

    cb = (cov["cell"].to_numpy(np.int64) >> 6)
    cd = (cov["cell"].to_numpy(np.int64) & 63)
    iso = cov["isolabel_ext"].to_numpy(dtype=object)
    full_bits, valid = grids.grid_b_encode_xy(cx, cy, rbits)
    assert valid.all()
    for r in got:
        pbits = cell_ids[r.pid] >> 6                # depth-22 bits of the target
        full = int(full_bits[r.pid])
        assert full >> 8 == pbits                   # center stayed inside its cell
        anc = full >> (30 - cd)
        m = anc == cb
        assert m.any()
        deepest = cd[m].max()
        exp_iso = min(iso[m & (cd == deepest)])
        assert r.isolabel_ext == exp_iso == "CO-ANT-Sabaneta", r
        assert r.cover_cell == int(cell_ids[r.pid]), r


def test_cover_anti_partitions_points(spark):
    """covered + uncovered == all grid-valid points; the two sets are disjoint
    (cover_anti is the exact complement of cover_lookup_best)."""
    import pandas as pd

    from co_new_spark.functions import geo
    from co_new_spark.grid import cells as C
    from co_new_spark.operators.cover import cover_anti, cover_lookup_best

    rng = np.random.default_rng(7)
    lat, lon = rng.uniform(-4.2, 12.4, 2000), rng.uniform(-79.0, -66.9, 2000)
    cells = (spark.createDataFrame(pd.DataFrame(
                 {"event_id": np.arange(2000), "lat": lat, "lon": lon}))
             .withColumn("cell", geo.encode_b_cell(F.col("lat"), F.col("lon"), 26))
             .filter(F.col("cell") >= 0))
    # mixed-depth cover over every third point's ancestors, two labels each
    leaf = np.array(sorted(r.cell for r in cells.select("cell").collect()))[::3]
    anc = C.parent(leaf, 30 - rng.choice([12, 17, 22, 26], len(leaf)))
    cov = spark.createDataFrame(pd.DataFrame(
        {"isolabel_ext": [f"CO-{k % 50:02d}" for k in range(2 * len(anc))],
         "kind": "cover", "cell": np.concatenate([anc, anc])}))
    hit = {r.event_id for r in
           cover_lookup_best(cells, cov, keep=["event_id"], dedup=False)
           .select("event_id").collect()}
    miss = {r.event_id for r in
            cover_anti(cells, cov, keep=["event_id"]).collect()}
    allv = {r.event_id for r in cells.select("event_id").collect()}
    assert hit | miss == allv
    assert not (hit & miss)
    assert hit and miss  # the cover leaves genuinely uncovered territory


@needs_reference("citycover.csv")
def test_areal_interp_conserves_mass_and_orders_by_area(spark):
    """Properties the value-hash oracle can't see: (a) per-municipality
    allocated mass equals n_points*1e6 minus only the integer-division
    remainder (< 1 micro-unit per cell); (b) equal-depth cells allocate
    equally and shallower (larger) cells never allocate less than deeper
    ones; (c) the int64 headroom documented in the docstring holds."""
    from co_new_spark.queries.geo_cover_sql import g_areal_interp

    rows = g_areal_interp(spark, SF).collect()
    assert rows
    by_iso: dict[str, list] = {}
    for r in rows:
        by_iso.setdefault(r.isolabel_ext, []).append(r)
    for iso, rs in by_iso.items():
        n = rs[0].n_points
        total = sum(r.alloc_micro for r in rs)
        assert n * 1_000_000 - len(rs) < total <= n * 1_000_000, iso
        by_depth: dict[int, set] = {}
        for r in rs:
            by_depth.setdefault(r.depth, set()).add(r.alloc_micro)
        assert all(len(v) == 1 for v in by_depth.values()), iso
        depths = sorted(by_depth)
        allocs = [next(iter(by_depth[d])) for d in depths]
        assert allocs == sorted(allocs, reverse=True), iso
    assert max(r.n_points * r.w for r in rows) * 1_000_000 < 2 ** 63
