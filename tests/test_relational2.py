"""Semantic gates for the round-2 relational additions (as-of join via
union+forward-fill, batch sessionization)."""

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_asof_join_matches_bruteforce_per_user(spark):
    from co_new_spark.queries.relational import q_asof_join
    from co_new_spark.sources.tables import load

    got = {r["event_id"]: r["last_purchase"]
           for r in q_asof_join(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type", "value").collect()
    purch = {}
    for r in ev:
        if r["event_type"] == "purchase":
            purch.setdefault(r["user_id"], []).append((r["ts"], r["value"]))
    n_checked = 0
    for r in ev:
        if r["event_type"] != "view":
            continue
        cand = [(t, v) for t, v in purch.get(r["user_id"], []) if t <= r["ts"]]
        want = round(max(cand)[1], 6) if cand else None
        assert got[r["event_id"]] == want, (r["event_id"], got[r["event_id"]], want)
        n_checked += 1
    assert n_checked == len(got) and n_checked > 50


def test_sessionize_invariants(spark):
    from co_new_spark.queries.relational import SESSION_GAP_S, q_sessionize
    from co_new_spark.sources.tables import load

    out = q_sessionize(spark, SF_DIR).collect()
    n_events = load(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in out) == n_events
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, sess in by_user.items():
        sess.sort(key=lambda r: r["sid"])
        assert [r["sid"] for r in sess] == list(range(1, len(sess) + 1))
        for a, b in zip(sess, sess[1:]):
            # consecutive sessions are separated by more than the gap
            delta = (b["session_start"] - a["session_end"]).total_seconds()
            assert delta > SESSION_GAP_S
        for r in sess:
            assert r["session_start"] <= r["session_end"]


def test_gapfill_dense_axis_and_totals(spark):
    from co_new_spark.queries.relational import q_gapfill
    from co_new_spark.sources.tables import load

    out = q_gapfill(spark, SF_DIR).collect()
    days = {r["day"] for r in out}
    types = {r["event_type"] for r in out}
    assert len(out) == len(days) * len(types)     # dense grid
    n_events = load(spark, SF_DIR, "events").count()
    assert sum(r["n"] for r in out) == n_events   # fill adds only zeros


def test_pyramid_levels_conserve_counts(spark):
    from co_new_spark.queries.geospatial import g_pyramid_rollup

    out = g_pyramid_rollup(spark, SF_DIR).collect()
    by_depth: dict = {}
    for r in out:
        by_depth[r["depth"]] = by_depth.get(r["depth"], 0) + r["n"]
    assert set(by_depth) == {4, 6, 8, 10, 12}
    assert len(set(by_depth.values())) == 1       # every level sums the same
    n_cells = {d: sum(1 for r in out if r["depth"] == d) for d in by_depth}
    assert n_cells[4] <= n_cells[6] <= n_cells[8] <= n_cells[10] <= n_cells[12]


def test_range_frame_mirror_and_peer_semantics(spark):
    import duckdb

    from conftest import SF_DIR

    from co_new_spark.queries.relational2 import q_range_frame

    con = duckdb.connect()
    rows = con.execute(f"""
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT),
             CAST(floor(value * 1024) AS BIGINT)
      FROM read_parquet('{SF_DIR}/events.parquet') WHERE user_id < 40""")\
        .fetchall()
    by_user = {}
    for u, e, t, iv in rows:
        by_user.setdefault(u, []).append((t, e, iv))
    want = {}
    for u, evs in by_user.items():
        for t, e, iv in evs:
            inwin = [(tt, vv) for tt, _ee, vv in evs if t - 3600 <= tt <= t]
            want[(u, e)] = (t, len(inwin), sum(v for _t, v in inwin))
    got = {(r.user_id, r.event_id): (r.t, r.n_1h, r.iv_1h)
           for r in q_range_frame(spark, SF_DIR).collect()}
    assert got == want
    assert len(got) > 500


def test_range_frame_oracle_types_match_spark_longs():
    # Spark returns LongType for both window aggregates; DuckDB's sum over
    # BIGINT is HUGEINT unless the oracle casts it back
    import duckdb

    from co_new_spark.queries.relational2 import SQL_RANGE_FRAME

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/events.parquet')")
    types = {r[0]: r[1] for r in
             con.execute(f"DESCRIBE {SQL_RANGE_FRAME}").fetchall()}
    assert types["n_1h"] == "BIGINT"
    assert types["iv_1h"] == "BIGINT"


def test_range_frame_includes_equal_time_peers(spark):
    # RANGE vs ROWS: peers at the SAME order value are all in each other's
    # frame, so both tied rows see n=2 — a ROWS frame would give 1 and 2
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1, 100, 5), (1, 100, 7), (1, 5000, 1)], "u long, t long, v long")
    w = Window.partitionBy("u").orderBy("t").rangeBetween(-3600, 0)
    got = {(r.t, r.v): r.n for r in
           df.select("t", "v", F.count("*").over(w).alias("n")).collect()}
    assert got[(100, 5)] == 2 and got[(100, 7)] == 2
    assert got[(5000, 1)] == 1          # 4900s gap: outside the frame
