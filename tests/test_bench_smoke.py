"""bench.py end to end on the smallest fixture: one flagship run (or its
skip record when citycover.csv is missing) plus one suite entry."""

import json
import os
import shutil
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line(tmp_path):
    # a copy, so the run's BENCH_local_latest.json lands in tmp_path and no
    # BENCH_r*.json baseline is picked up
    bench = tmp_path / "bench.py"
    shutil.copy(os.path.join(REPO, "bench.py"), bench)
    env = {**os.environ, "PYTHONPATH": REPO,
           "SPARK_GRAFT_SF_DIR": SF_DIR,
           "BENCH_ONLY": "geo_cell_assign", "SPARK_GRAFT_SCALING": "0",
           "BENCH_PAGES": "2000", "BENCH_BEST_OF": "1",
           "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    r = subprocess.run([sys.executable, str(bench)], capture_output=True,
                       text=True, env=env, cwd=tmp_path, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, r.stdout[-3000:]
    out = json.loads(lines[0])
    if "flagship_geocode_cover_join" in out["queries"]:
        assert out["n_geocoded"] > 0 and out["pages_geocoded_per_sec"] > 0
    else:
        missing = out["skipped"]["flagship_geocode_cover_join"]
        assert os.path.basename(missing) == "citycover.csv"
        assert out["n_geocoded"] is None
    assert "geo_cell_assign" in out["queries"] or "geo_cell_assign" in out["skipped"]
