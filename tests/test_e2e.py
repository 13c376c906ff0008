"""End-to-end curation pipeline (queries/e2e_q.py) invariants."""


def test_e2e_pipeline_invariants(spark):
    from co_new_spark.queries.e2e_q import PACK_CAP, e2e_training_pipeline

    out = e2e_training_pipeline(spark, "").collect()
    assert out
    langs = {r["lang"] for r in out}
    splits = {r["split"] for r in out}
    assert langs == {"es", "en"}          # pt filtered out
    assert splits == {"train", "val", "test"}
    by_stream: dict = {}
    for r in out:
        by_stream.setdefault((r["lang"], r["split"]), []).append(r)
    total = 0
    for (lang, split), rows in by_stream.items():
        rows.sort(key=lambda r: r["bin_id"])
        # dense bin ids from 0
        assert [r["bin_id"] for r in rows] == list(range(len(rows)))
        for r in rows:
            total += r["n_docs"]
            assert r["sum_tok"] <= PACK_CAP or r["n_docs"] == 1
    # dedup really removed the boilerplate cluster and url-dups:
    # survivors are strictly fewer than the 2000 fixture pages but still most
    assert 1000 < total < 2000
