"""Crawl-operations entries (queries/webtext2.py) and PMI collocation
mining (queries/training8.t_pmi_pairs).

The oracle gate proves cross-engine value identity; these pin what it
cannot: the *changed*-url branch of recrawl_diff (the fixture, honoring
the byte-identical-per-url contract, never exercises it), the frontier
schedule's politeness invariants (dense per-host slots, one worker per
host), and PMI ground truth vs an independent pure-python count (a
tokenization or marginal-count bug could in principle be mirrored in the
SQL restatement — the python mirror breaks that symmetry).
"""

import collections
import datetime
import re

from conftest import SF_DIR

from co_new_spark.queries.training8 import _PMI_MINC, _PMI_TOPK, t_pmi_pairs
from co_new_spark.queries.webtext2 import (_N_WORKERS, _POLITE_S,
                                           _TREND_MINCT, _TREND_TOPK,
                                           longest_prefix_match, recrawl_diff,
                                           w_crawl_schedule, w_recrawl_diff,
                                           w_robots_filter, w_trending_terms)
from co_new_spark.queries.webtext_q import _fixture
from co_new_spark.sources.tables import load


def test_recrawl_diff_fixture_contract(spark):
    rows = w_recrawl_diff(spark, SF_DIR).collect()
    assert rows  # the fixture's ~6% url-duplicate groups
    for r in rows:
        assert r.n_snaps == 3            # duplicate groups are exactly 3
        assert r.n_versions == 1         # byte-identical per url
        assert r.unchanged is True
        assert r.span_s == int((r.last_ts - r.first_ts).total_seconds())
        assert r.span_s > 0


def test_recrawl_diff_planted_change(spark):
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        ("u/changed", t0, "version one"),
        ("u/changed", t0 + datetime.timedelta(days=1), "version two"),
        ("u/changed", t0 + datetime.timedelta(days=2), "version two"),
        ("u/stable", t0, "same"),
        ("u/stable", t0 + datetime.timedelta(hours=1), "same"),
        ("u/once", t0, "single fetch"),
    ]
    pg = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {r.url: r for r in recrawl_diff(pg).collect()}
    assert set(got) == {"u/changed", "u/stable"}  # n_snaps >= 2 only
    assert got["u/changed"].n_versions == 2
    assert got["u/changed"].unchanged is False
    assert got["u/changed"].span_s == 2 * 86400
    assert got["u/stable"].n_versions == 1
    assert got["u/stable"].unchanged is True


def test_crawl_schedule_politeness_invariants(spark):
    rows = w_crawl_schedule(spark, SF_DIR).collect()
    by_host = collections.defaultdict(list)
    for r in rows:
        assert r.fetch_offset_s == r.slot * _POLITE_S
        assert 0 <= r.worker < _N_WORKERS
        by_host[r.host].append(r)
    assert len({r.url for r in rows}) == len(rows)  # one slot per url
    for host, rs in by_host.items():
        slots = sorted(r.slot for r in rs)
        assert slots == list(range(len(rs)))        # dense FIFO 0..n-1
        assert len({r.worker for r in rs}) == 1     # per-host worker affinity


def test_pmi_matches_python_mirror(spark):
    docs = load(spark, SF_DIR, "documents").select("text").collect()
    uni: collections.Counter = collections.Counter()
    big: collections.Counter = collections.Counter()
    n_uni = n_pairs = 0
    for row in docs:
        toks = row.text.split(" ")
        uni.update(toks)
        n_uni += len(toks)
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
            n_pairs += 1
    scored = []
    for (a, b), c in big.items():
        if c < _PMI_MINC:
            continue
        ratio = round((float(c) * n_uni * n_uni)
                      / (float(n_pairs) * uni[a] * uni[b]), 6)
        scored.append((-ratio, a, b, c, uni[a], uni[b]))
    scored.sort()
    want = [(a, b, c, cx, cy, -nr) for nr, a, b, c, cx, cy
            in scored[:_PMI_TOPK]]
    got = [(r.w1, r.w2, r.c_xy, r.c_x, r.c_y, r.pmi_ratio)
           for r in t_pmi_pairs(spark, SF_DIR).collect()]
    assert got == want


def test_trending_terms_python_mirror(spark):
    pages = _fixture(spark).select("warc_ts", "text").collect()
    ctw: collections.Counter = collections.Counter()
    weeks = set()
    for r in pages:
        wk = r.warc_ts.date() - datetime.timedelta(days=r.warc_ts.weekday())
        weeks.add(wk)
        for t in re.findall(r"[^\W_]+", r.text.lower()):
            ctw[(t, wk)] += 1
    ct: collections.Counter = collections.Counter()
    for (t, _), c in ctw.items():
        ct[t] += c
    scored = sorted(
        (-round(float(c) * len(weeks) / ct[t], 6), t, wk, c, ct[t])
        for (t, wk), c in ctw.items() if ct[t] >= _TREND_MINCT)
    want = [(t, wk, c, tot, -nb) for nb, t, wk, c, tot
            in scored[:_TREND_TOPK]]
    got = [(r.term, r.week, r.c_tw, r.c_t, r.burst)
           for r in w_trending_terms(spark, SF_DIR).collect()]
    assert got == want


def test_lpm_planted_rules(spark):
    facts = spark.createDataFrame(
        [("u1", "h", "/a/b/c"), ("u2", "h", "/a/x"), ("u3", "h", "/z"),
         ("u4", "g", "/a/b/c")],
        "url string, host string, path string")
    rules = spark.createDataFrame(
        [("h", "/", True), ("h", "/a", False), ("h", "/a/b", True),
         ("g", "/", False)],
        "host string, prefix string, allow boolean")
    got = {r.url: (r.prefix, r.allow)
           for r in longest_prefix_match(facts, rules).collect()}
    assert got == {
        "u1": ("/a/b", True),   # longest override wins over /a deny
        "u2": ("/a", False),    # mid-length deny beats root allow
        "u3": ("/", True),      # root fallback
        "u4": ("/", False),     # per-host isolation: g's root denies
    }


def test_robots_filter_fixture_invariants(spark):
    rows = w_robots_filter(spark, SF_DIR).collect()
    urls = {r.url for r in _fixture(spark).select("url").distinct().collect()}
    assert {r.url for r in rows} == urls and len(rows) == len(urls)
    import hashlib
    for r in rows:
        h = hashlib.md5(r.host.encode()).hexdigest()
        g1, g2 = ord(h[0]) % 2 == 0, ord(h[1]) % 2 == 0
        path = r.url.split(r.host, 1)[1]
        if g1 and g2 and path.startswith("/page12"):
            assert (r.prefix, r.allow) == ("/page12", True)
        elif g1 and path.startswith("/page1"):
            assert (r.prefix, r.allow) == ("/page1", False)
        else:
            assert (r.prefix, r.allow) == ("/", True)


def test_kanon_planted_ladder(spark):
    from co_new_spark.queries.webtext2 import kanon_release
    t0 = datetime.datetime(2025, 1, 6)  # a Monday
    cells = [
        ("big", "es", t0, 10),                 # released at level 0
        ("big", "es", t0 + datetime.timedelta(weeks=1), 3),  # -> level 1 pool
        ("big", "es", t0 + datetime.timedelta(weeks=2), 6),  # -> level 1 pool
        ("mid", "en", t0, 4),                  # level 1 pool = 4 < k
        ("mid", "pt", t0, 5),                  # level 2 pool: 4 + 5 = 9 >= k
        ("tiny", "es", t0, 2),                 # falls through to level 3
    ]
    got = {(r.host, r.lang, r.week, r.level): r.n
           for r in kanon_release(
               spark.createDataFrame(
                   cells, "host string, lang string, week timestamp, n long"),
               k=8).collect()}
    assert got == {
        ("big", "es", t0, 0): 10,       # full cell released
        ("big", "es", None, 1): 9,      # 3 + 6 merged at (host, lang)
        ("mid", None, None, 2): 9,      # 4 + 5 merged at (host)
        (None, None, None, 3): 2,       # global suppression bucket
    }


def test_kanon_fixture_k_guarantee(spark):
    from co_new_spark.queries.webtext2 import _KANON_K, w_kanon_release
    rows = w_kanon_release(spark, SF_DIR).collect()
    total = _fixture(spark).count()
    assert sum(r.n for r in rows) == total  # every page accounted for once
    for r in rows:
        if r.level < 3:                 # level 3 is the fully-generalized
            assert r.n >= _KANON_K      # bucket (no quasi-identifiers left)
        assert (r.lang is None) == (r.level >= 2)
        assert (r.week is None) == (r.level >= 1)
    assert {r.level for r in rows} & {1, 2}  # the fixture exercises the ladder
