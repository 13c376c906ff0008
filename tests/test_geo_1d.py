"""geo_1d entries: cover run-length compression + classic Geohash parity
against an INDEPENDENT bisection-style reference encoder."""

from conftest import SF_DIR, needs_reference

from pyspark.sql import functions as F

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_ref(lat: float, lon: float, nchars: int = 8) -> str:
    """Textbook interval-bisection Geohash (Niemeyer) — deliberately a
    DIFFERENT formulation than the engine's quantize-and-interleave, so the
    test is not a mirror of the implementation."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < nchars * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    return "".join(
        _GH_ALPHABET[int("".join(map(str, bits[i:i + 5])), 2)]
        for i in range(0, nchars * 5, 5))


def test_geohash_known_vector(spark):
    # the canonical example point: geohash-8 of (57.64911, 10.40744)
    from co_new_spark.queries.geo_1d import _gh_spark

    ix, iy, gh = _gh_spark(F.lit(57.64911), F.lit(10.40744))
    row = spark.range(1).select(gh.alias("gh")).collect()[0]
    assert row.gh == "u4pruydq"
    assert _geohash_ref(57.64911, 10.40744) == "u4pruydq"


def test_geohash_fixture_parity_vs_bisection(spark):
    from co_new_spark.queries.geo_1d import t_geohash_classic

    rows = t_geohash_classic(spark, SF_DIR).collect()
    assert len(rows) > 100
    # recover lat/lon from the quantized indices' cell centers: the
    # bisection encoder of the CENTER point must reproduce the same code
    # (centers are strictly inside the level-20 cell, so both formulations
    # agree even at cell boundaries)
    for r in rows[::7]:
        lat = -90.0 + (r.iy + 0.5) * 180.0 / (1 << 20)
        lon = -180.0 + (r.ix + 0.5) * 360.0 / (1 << 20)
        assert _geohash_ref(lat, lon) == r.geohash, (r.url, r.ix, r.iy)


@needs_reference("citycover.csv")
def test_cover_rle_compresses_and_preserves_measure(spark):
    from co_new_spark.queries.geo_1d import t_cover_rle
    from co_new_spark.sources.reference_data import load_citycover

    out = t_cover_rle(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 1116  # every jurisdiction in citycover.csv
    assert all(r.n_runs <= r.n_codes for r in rows)
    assert all(r.max_run <= r.covered for r in rows)
    # sibling merges must actually happen somewhere (the 1-D payoff)
    assert sum(r.n_codes - r.n_runs for r in rows) > 0
    # cover cells are disjoint, so the merged-run measure equals the raw
    # per-cell measure — corruption in the islands logic would break this
    raw = (load_citycover(spark).filter(F.col("kind") == "cover")
           .groupBy("isolabel_ext")
           .agg(F.sum(F.col("hi") - F.col("lo")).alias("raw_len")))
    joined = out.join(raw, "isolabel_ext")
    bad = joined.filter(F.col("covered") != F.col("raw_len")).count()
    assert bad == 0
