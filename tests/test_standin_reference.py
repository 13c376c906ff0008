"""tools/standin_reference.py: runs on one small scale, and its two-scale
output is pinned byte for byte (the sha= comparisons between checkouts read
these files)."""

import csv
import hashlib
import os

import pytest

from tests.conftest import SF_DIR
from tools.standin_reference import write

SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
SF_LARGE = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _sha16(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


@pytest.mark.skipif(not os.path.isdir(SF_SMALL), reason=f"missing {SF_SMALL}")
def test_single_small_scale_writes_every_file(tmp_path):
    write(str(tmp_path), [SF_SMALL])
    with open(tmp_path / "data" / "citycover.csv", newline="") as fh:
        city = list(csv.DictReader(fh))
    assert len(city) == 60
    assert sum(len(r["cover"].split()) for r in city) > 100
    for name in ("synonym.csv", "synonym_ref.csv"):
        assert (tmp_path / "data" / name).stat().st_size > 0


@pytest.mark.skipif(not (os.path.isdir(SF_SMALL) and os.path.isdir(SF_LARGE)),
                    reason=f"missing {SF_SMALL} or {SF_LARGE}")
def test_two_scale_output_is_pinned(tmp_path):
    write(str(tmp_path), [SF_SMALL, SF_LARGE])
    got = {n: _sha16(tmp_path / "data" / f"{n}.csv")
           for n in ("citycover", "synonym", "synonym_ref")}
    assert got == {"citycover": "cbe6794654b374cf", "synonym": "f0fd743dd1c5e7b0",
                   "synonym_ref": "4a662b0dcbeb1609"}
