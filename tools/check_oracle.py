"""Local stand-in for the driver's correctness gate.

Runs every queries() entry and, where oracle_sql() exists, compares against
DuckDB on the same parquet: row count, column names, and an order-insensitive
value comparison (sorted rows, stringified).  Each PASS line ends with
``sha=``, the first 16 hex digits of the sha256 of that normalized row set, so
two checkouts can be shown to return the same rows.  Usage:

    python tools/check_oracle.py [sf_dir] [name_filter ...]

A filter equal to an entry name runs that entry only; any other filter runs
every entry whose name contains it.
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback

sys.path.insert(0, ".")

import os

import duckdb  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def rowset_sha(rs) -> str:
    return hashlib.sha256(repr(rs).encode()).hexdigest()[:16]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``TABLES`` parquet of
    ``sf_dir``.  A missing parquet raises FileNotFoundError naming it."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            raise FileNotFoundError(f"missing {path}")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def select(names, filters) -> list[str]:
    """The entries to run, sorted.  A filter equal to a registry name selects
    exactly that entry; any other filter selects every name containing it
    (``geo`` selects the family); no filter selects every entry."""
    names = sorted(names)
    if not filters:
        return names
    exact = set(filters) & set(names)
    partial = [f for f in filters if f not in exact]
    return [n for n in names if n in exact or any(f in n for f in partial)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    import __spark_entry__ as entrymod
    from co_new_spark.plans.session import get_spark

    # progress bars write \r-prefixed lines that glue onto PASS/FAIL output
    # when the sweep is piped to a file — keep the log line-clean
    os.environ.setdefault("SPARK_GRAFT_NO_PROGRESS", "1")
    spark = get_spark(app="oracle-check", master="local[8]", shuffle_partitions=8)
    con = connect(sf_dir)

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failed = []
    for name in select(qs, filters):
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in osql:
            print(f"ok   {name}: rows-only, {len(rows)} rows  [{dt:.1f}s]")
            if len(rows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            ores = con.execute(osql[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failed.append(name)
            continue
        if sorted(cols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(cols)} != {sorted(ocols)}")
            failed.append(name)
            continue
        if len(rows) != len(orows):
            print(f"FAIL {name}: rowcount {len(rows)} != {len(orows)}")
            failed.append(name)
            continue
        a, b = rowset(cols, rows), rowset(ocols, orows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
            print(f"FAIL {name}: value mismatch, e.g. {diff}")
            failed.append(name)
            continue
        print(f"PASS {name}: {len(rows)} rows  [{dt:.1f}s]  sha={rowset_sha(b)}")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nALL PASS")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
