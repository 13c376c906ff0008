import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from co_new_spark.plans.session import get_spark

    s = get_spark(app="co_new_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def standin_cover(spark):
    """Small mixed-depth cover standing in for citycover.csv: the 16 L0
    cells (depth 4), one of them under two labels, plus a nested depth-12
    cell and an overlay row.  Every on-grid point is covered."""
    l0 = [((k << 6) | 4, f"CO-{k:02d}") for k in range(16)]
    rows = [(iso, "cover", c, 4) for c, iso in l0] + [
        ("CO-00A", "cover", (0xC55 << 6) | 12, 12),
        ("CO-XX", "cover", (12 << 6) | 4, 4),
        ("CO-SEAT", "overlay", (13 << 6) | 4, 4)]
    return spark.createDataFrame(rows, ["isolabel_ext", "kind", "cell", "depth"])


def needs_reference(*names):
    """Skip unless every named CO_new data file exists under
    ``sources.reference_data.REF_DIR``/data (``CO_REFERENCE_DIR``); the
    reason names each missing path."""
    from co_new_spark.sources.reference_data import REF_DIR

    missing = [p for p in (os.path.join(REF_DIR, "data", n) for n in names)
               if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason="missing reference file(s): " + ", ".join(missing))


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
