"""Plan-shape audit helpers: walk a DataFrame's optimized logical plan (via
py4j) and report structural scale hazards.  Used by the
tests/test_plan_shapes.py gates and tools/scan_global_windows.py.

Hazards audited:

* unpartitioned Window — a ``Window.orderBy(...)`` with no ``partitionBy``
  compiles to an Exchange SinglePartition + global Sort, i.e. every row of
  the window's input funnels through ONE reducer.  That is a 100 TB
  scale-killer unless the input is already bounded by a Limit (the
  distributed-top-k-then-rank pattern, e.g.
  queries/training4.py::t_substring_hotspans).
* copied Python UDF — the same UDF evaluated by more than one
  ArrowEvalPython/BatchEvalPython node, i.e. every row crosses into Python
  once per copy.  Catalyst makes such copies when it pushes a filter on a
  deterministic UDF's output below the projection that computes it
  (``functions.geo.single_eval`` is the fix).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame


def _walk(node):
    """Pre-order iterator over a (py4j) plan tree."""
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _subtree_has_limit(node) -> bool:
    return any(n.nodeName() in ("GlobalLimit", "LocalLimit") for n in _walk(node))


def global_windows(df: DataFrame) -> list[tuple[str, bool]]:
    """All unpartitioned Window nodes in the optimized logical plan.

    Returns ``[(window_node_string, input_bounded_by_limit)]``.  An entry
    with ``input_bounded_by_limit=False`` means a single-partition global
    sort over an unbounded input — the pattern the plan gate bans.
    """
    return [(node.simpleString(25), _subtree_has_limit(node))
            for node in _walk(df._jdf.queryExecution().optimizedPlan())
            if node.nodeName() == "Window" and node.partitionSpec().size() == 0]


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """The gate predicate: unpartitioned windows NOT fed by a Limit."""
    return [s for s, bounded in global_windows(df) if not bounded]


def repeated_python_udfs(df: DataFrame) -> list[str]:
    """The gate predicate for copied UDFs: every Python UDF call that more
    than one ArrowEvalPython or BatchEvalPython node of the optimized plan
    evaluates, as ``name#result_id``.  A copy keeps the call's result id even
    when pushdown has rewritten its arguments, so the id is the call's key."""
    calls = Counter()
    for node in _walk(df._jdf.queryExecution().optimizedPlan()):
        if node.nodeName() in ("ArrowEvalPython", "BatchEvalPython"):
            udfs = node.udfs()
            calls.update(f"{u.name()}#{u.resultId().id()}"
                         for u in map(udfs.apply, range(udfs.size())))
    return sorted(k for k, n in calls.items() if n > 1)
