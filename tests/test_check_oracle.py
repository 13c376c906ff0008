"""Entry selection of tools/check_oracle.py, without Spark."""

from tools.check_oracle import select

NAMES = ["geo_knn_ring", "geo_knn_ring_events", "geo_mst", "web_geo_lang_mix"]


def test_exact_name_selects_that_entry_only():
    assert select(NAMES, ["geo_knn_ring"]) == ["geo_knn_ring"]
    assert select(NAMES, ["geo_knn_ring_events", "geo_mst"]) == ["geo_knn_ring_events", "geo_mst"]


def test_other_filters_match_as_substrings():
    assert select(NAMES, ["geo"]) == NAMES
    assert select(NAMES, ["knn"]) == ["geo_knn_ring", "geo_knn_ring_events"]
    assert select(NAMES, ["geo_knn_ring", "lang"]) == ["geo_knn_ring", "web_geo_lang_mix"]
    assert select(NAMES, ["nothing"]) == []


def test_no_filter_selects_all_sorted():
    assert select(reversed(NAMES), []) == NAMES
