"""Smoke test for the benchmark itself, at tiny sizes (20k pages).

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from run import N_PAGES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--pages", "20000"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(N_PAGES))
def test_every_metric_emitted_and_checked(workload, trace):
    record, result = _run(workload, trace)
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert np.isfinite(got["value"])
    assert record["plan_fingerprint"] and record["iter_samples"] >= 1
    if record.get("cover_source") is not None:
        assert record["cover_source"] == "synthetic"


def test_cover_oracle_matches_cover_lookup_best():
    """Hand-built cover: a depth-12 cell with a nested depth-16 cell of
    another label, a border cell listed under two labels, and an uncovered
    region; the oracle must agree with ``cover_lookup_best`` row for row."""
    import oracle
    from co_new_spark.grid import cells
    from co_new_spark.operators.cover import cover_lookup_best
    from co_new_spark.plans.session import get_spark

    def cell(bits: int, depth: int) -> int:
        return int(cells.pack(np.array([bits], dtype=np.uint64),
                              np.array([depth], dtype=np.int64))[0])

    base = 0xC55                       # a depth-12 cell under L0 digit c
    big = cell(base, 12)
    nested = cell((base << 4) | 0x3, 16)
    border = cell((base + 1) << 5 | 0x7, 17)
    cover = pd.DataFrame({
        "isolabel_ext": ["CO-B", "CO-A", "CO-C", "CO-D"],
        "cell": [big, nested, border, border]})
    cover["depth"] = cells.depth(cover["cell"].to_numpy())

    rng = np.random.default_rng(0)
    leaf = []
    for anc, d in ((big, 12), (nested, 16), (border, 17), (cell(base + 2, 12), 12)):
        bits, _ = cells.unpack(np.array([anc]))
        low = rng.integers(0, 1 << (30 - d), 50).astype(np.uint64)
        leaf.append(cells.pack((bits[0] << np.uint64(30 - d)) | low,
                               np.full(50, 30, dtype=np.int64)))
    points = np.concatenate(leaf + [np.array([-1])])

    expected = oracle.CoverIndex(cover).counts(points)
    # nested cell -> its own label (A < B); border -> the smaller label C;
    # the last group and the invalid cell match nothing
    assert set(expected) == {"CO-A", "CO-B", "CO-C"}
    assert expected["CO-C"] == 50 and sum(expected.values()) == 150

    spark = get_spark(master="local[2]")
    try:
        pts = spark.createDataFrame(pd.DataFrame({"cell": points}))
        got = (cover_lookup_best(pts, spark.createDataFrame(cover), keep=["cell"],
                                 dedup=False)
               .groupBy("isolabel_ext").count().collect())
        assert {r[0]: r[1] for r in got} == expected
    finally:
        spark.stop()
