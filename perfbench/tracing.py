"""Measurement helpers: spans, plan metrics, stage metrics, memory, timers.

Spans are recorded only by the benchmark's own code around its calls into
the engine's public functions; nothing here reaches inside ``co_new_spark``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import statistics
import threading
import time
import urllib.request

import numpy as np


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    def span(self, name: str):
        return contextlib.nullcontext()


# ---------------------------------------------------------------------------
# Executed-plan walk (SQL metrics of the final adaptive plan)
# ---------------------------------------------------------------------------

def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every operator the query executed.

    Descends from ``AdaptiveSparkPlan`` into its final plan and each query
    stage; a reused exchange is not descended, so no metric counts twice."""
    out = []

    def walk(node):
        name = node.nodeName()
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        out.append((name, vals))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls != "ReusedExchangeExec":
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


_NODE_COUNTS = {"plans.n_exchange": "Exchange",
                "plans.n_broadcast": "BroadcastExchange",
                "plans.n_arrow_eval": "ArrowEvalPython",
                "plans.n_bnlj": "BroadcastNestedLoopJoin"}


def node_counts(nodes) -> dict[str, int]:
    return {k: sum(1 for n, _ in nodes if n == v) for k, v in _NODE_COUNTS.items()}


def plan_metrics(nodes) -> dict[str, float]:
    """Sums of the SQL metrics the per-layer report names (times in s)."""
    def total(key, names=None):
        return sum(m.get(key, 0) for n, m in nodes if names is None or n in names)

    scans = {n for n, _ in nodes if n.startswith("Scan ")}
    return {
        "functions.udf_rows": total("pythonNumRowsReceived"),
        "functions.arrow_bytes_sent": total("pythonDataSent"),
        "functions.arrow_bytes_received": total("pythonDataReceived"),
        "functions.py_total_s": total("pythonTotalTime") / 1e3,
        "functions.py_init_s": total("pythonInitTime") / 1e3,
        "operators.broadcast_build_s": (total("buildTime", {"BroadcastExchange"})
                                        + total("collectTime", {"BroadcastExchange"})) / 1e3,
        "operators.broadcast_bytes": total("dataSize", {"BroadcastExchange"}),
        "sources.scan_bytes": total("filesSize", scans),
        "sources.scan_time_s": total("scanTime", scans) / 1e3,
        "plans.shuffle_bytes": total("shuffleBytesWritten", {"Exchange"}),
        **node_counts(nodes),
    }


_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(QueryStage|ShuffleQueryStage|BroadcastQueryStage|"
                r"ResultQueryStage|WholeStageCodegen) \(?\d+\)?"), r"\1"),
    (re.compile(r"Location: [^\[]*\[[^\]]*\]"), "Location:"),
    (re.compile(r"\bpythonUDF\d+"), "pythonUDF"),
]


def plan_fingerprint(df) -> str:
    """Hash of the final executed plan with expression and stage ids and
    file locations stripped, so equal plans hash equal across runs."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("+- == Initial Plan ==")[0]
    for pat, rep in _VOLATILE:
        text = pat.sub(rep, text)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# Stage metrics through the Spark UI REST API (localhost)
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_metrics(spark, job_group: str) -> dict[str, float]:
    """Task CPU, GC and the straggler ratio (max / median task run time of
    the heaviest stage) over the jobs of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in tracker.getJobIdsForGroup(job_group)
                        for s in tracker.getJobInfo(j).stageIds})
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    cpu_ns = gc_ms = 0
    heavy = None
    for sid in stage_ids:
        for att in _get(f"{base}/{sid}"):
            if att.get("status") != "COMPLETE":
                continue
            cpu_ns += att.get("executorCpuTime", 0)
            gc_ms += att.get("jvmGcTime", 0)
            if heavy is None or att["executorRunTime"] > heavy["executorRunTime"]:
                heavy = att
    straggler = 1.0
    if heavy is not None:
        q = _get(f"{base}/{heavy['stageId']}/{heavy['attemptId']}"
                 "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        straggler = q[1] / q[0] if q[0] else 1.0
    return {"plans.task_cpu_s": cpu_ns / 1e9, "plans.gc_s": gc_ms / 1e3,
            "plans.straggler_ratio": straggler}


# ---------------------------------------------------------------------------
# Peak memory of the driver process tree (JVM and Python workers included)
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_kb(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples the proportional set size of this process and all its
    descendants every ``interval`` seconds; ``peak_mb`` is the largest sum
    seen, ``window()`` the largest since its previous call."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._last_kb = self._window_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            kb = _tree_pss_kb(pid)
            with self._lock:
                self._last_kb = kb
                self.peak_kb = max(self.peak_kb, kb)
                self._window_kb = max(self._window_kb, kb)
            self._stop.wait(self.interval)

    def window(self) -> float:
        """Peak MB since the previous call (or the start); starts a new
        window, which begins at the latest sample."""
        with self._lock:
            kb, self._window_kb = self._window_kb, self._last_kb
        return kb / 1024.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Single-thread kernel timers and the host calibration probe
# ---------------------------------------------------------------------------

def cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of the host so far, or with ``since`` the share
    of CPU time the hypervisor took from this VM in between."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:]]
    now = (f[7] if len(f) > 7 else 0, sum(f[:8]))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def median_s(fn, repeat: int) -> float:
    """Median wall seconds of ``repeat`` calls of ``fn()``."""
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def ns_per_row(fn, n_rows: int, repeat: int = 5) -> float:
    """Median wall ns per row of ``fn()`` over ``repeat`` calls."""
    return median_s(fn, repeat) * 1e9 / max(n_rows, 1)


def calibration_s(repeat: int = 5) -> float:
    """Fixed host probe: median time of a seeded numpy sort plus a pure
    Python loop; moves only when the host does."""
    data = np.random.default_rng(0).random(1_000_000)

    def probe():
        np.sort(data)
        acc = 0
        for k in range(300_000):
            acc += k * k % 7
        return acc

    return median_s(probe, repeat)
