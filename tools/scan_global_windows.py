"""Scan every registry entry's optimized logical plan for Window nodes with
an empty partitionSpec (global single-partition sort windows) and report
whether a Limit bounds the window's input.  Dev tool behind the
tests/test_plan_shapes.py gate; the traversal lives in
co_new_spark/plans/audit.py.  Usage:

    python tools/scan_global_windows.py [sf_dir] [name_filter ...]

Filters select entries as in tools/check_oracle.py: a filter equal to an
entry name scans that entry only, any other scans every name containing it.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]
    import __spark_entry__ as em
    from co_new_spark.plans.audit import global_windows
    from co_new_spark.plans.session import get_spark
    from tools.check_oracle import select

    spark = get_spark(app="win-scan", master="local[8]", shuffle_partitions=8)
    qs = em.queries()
    for name in select(qs, filters):
        try:
            gw = global_windows(qs[name](spark, sf))
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            continue
        for _, bounded in gw:
            tag = "bounded-by-limit" if bounded else "UNBOUNDED"
            print(f"WIN  {name}: {tag}")
    print("done")


if __name__ == "__main__":
    main()
