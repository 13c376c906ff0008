"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 30 --trace 0

Generates the workload's inputs from ``--seed`` under ``perfbench/_work/``,
sets the engine up (``plans.session.get_spark`` on ``local[nproc]`` with the
program's own confs, the cover dimension, one untimed warm-up iteration),
runs closed-loop iterations for ``--seconds`` (timing those started in its
second half), checks every output against the numpy oracle, and prints one
JSON line last.
``--trace 1`` then adds traced iterations, isolation jobs and kernel timers
and reports the per-layer metrics instead of the end-to-end ones.  See
README.md in this directory for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# pages per workload: sized so that one run (JVM start, cold warm-up, timed
# loop) stays inside the benchmark's per-run time budget on a 4-core host
N_PAGES = {"flagship": 100_000, "cover_deep": 100_000, "pyramid": 100_000}
N_TRACED_ITERS = 3
SETTLE_FRAC = 0.5  # share of --seconds whose iterations warm up, untimed
DRIVER_MEMORY = "2g"


def _env(work: str) -> None:
    """Python workers import the package from the checkout; every file the
    engine writes stays under the run's work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session's own knob for driver heap (default 8g): the host's memory
    # is shared, and a capped heap keeps peak_rss_mb from tracking how far
    # the JVM happened to grow an 8g heap in one run
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # JVM scratch files (native-library extraction) go to the work directory
    # too; -UsePerfData stops each JVM, spark-submit's launcher included,
    # writing its counters file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child process
    (JVM and Python workers) has exited."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _iterate(wl, spark, tr):
    """One iteration: (wall seconds, df, ok)."""
    t0 = time.perf_counter()
    try:
        df, res = wl.iteration(spark, tr)
        ok = wl.check(res)
        if not ok:
            print(f"output check failed on {wl.name}", file=sys.stderr)
    except Exception:  # a failed iteration is counted, not fatal
        traceback.print_exc()
        df, ok = None, False
    return time.perf_counter() - t0, df, ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(N_PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (smoke tests)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "co_new_spark")):
        print(f"co_new_spark package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import tracing
    from co_new_spark.plans.session import get_spark
    from workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    n_pages = args.pages or N_PAGES[args.workload]
    wl = WORKLOADS[args.workload](args.seed, n_pages, work)
    null = tracing.NullTracer()

    steal0 = tracing.cpu_steal()
    with tracing.PeakMemory() as mem:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{nproc}]")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl.build_cover(spark)
        _, _, ok = _iterate(wl, spark, null)
        setup_s = time.perf_counter() - t0
        attempted = 1
        failed = int(not ok)

        # every iteration is checked and counted; the figures come from the
        # ones started in the second half of the loop, after the JVM has
        # compiled its hot paths (iteration times fall for about 15 s)
        done = []  # (start offset, wall s, peak MB)
        t_start = time.perf_counter()
        while (start := time.perf_counter() - t_start) < args.seconds:
            mem.window()
            dt, df, ok = _iterate(wl, spark, null)
            attempted += 1
            failed += not ok
            if ok:
                done.append((start, dt, mem.window()))
                last_df = df
        timed = [d for d in done if d[0] >= args.seconds * SETTLE_FRAC] or done[-1:]
        iter_s = [d[1] for d in timed]
        iter_peak_mb = [d[2] for d in timed]

        record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                  "nproc": nproc, **wl.sizes(),
                  "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                  "settle_s": [d[1] for d in done[:len(done) - len(timed)]],
                  "iter_samples": len(iter_s), "iter_s": iter_s,
                  "iter_peak_mb": iter_peak_mb, "setup_s": setup_s,
                  "session_s": session_s,
                  "host_calib_s": tracing.calibration_s()}
        if iter_s:
            nodes = tracing.plan_nodes(last_df)
            record["plan_fingerprint"] = tracing.plan_fingerprint(last_df)
            record["node_counts"] = tracing.node_counts(nodes)

        if args.trace and iter_s:
            per_layer = _traced(wl, spark, session_s, record)
            attempted += per_layer.pop("_attempted")
            failed += per_layer.pop("_failed")
        _stop_spark(spark)

    record["run_peak_mb"] = mem.peak_mb
    record["host_steal_frac"] = tracing.cpu_steal(steal0)
    print(json.dumps({"record": record}))
    if not iter_s:
        values = {}
    elif args.trace:
        values = per_layer
    else:
        iter_p50 = statistics.median(iter_s)
        values = {"rows_per_s": wl.input_rows / iter_p50, "iter_s_p50": iter_p50,
                  "setup_s": setup_s, "peak_rss_mb": statistics.median(iter_peak_mb),
                  "ok_frac": 1.0 - failed / attempted}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared if m["name"] in values}
    correct = failed == 0 and bool(iter_s)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if iter_s else 1


def _traced(wl, spark, session_s, record) -> dict:
    """Traced iterations, isolation jobs and kernel timers -> per-layer metrics.

    Each traced iteration follows an untraced one, and each round of
    isolation jobs is followed by an untraced iteration, so both ratios
    (``trace.overhead_frac``, ``trace.layer_sum_ratio``) compare times taken
    seconds apart, and hold when the host's speed drifts during the run."""
    import tracing

    tr = tracing.Tracer()
    null = tracing.NullTracer()
    sc = spark.sparkContext
    untraced_s, traced_s, harvested, oks = [], [], [], []
    group = None
    for k in range(N_TRACED_ITERS):
        dt, _, ok = _iterate(wl, spark, null)
        untraced_s.append(dt)
        oks.append(ok)
        group = f"traced-{k}"
        tr.trace_id = group
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with tr.span("iteration"):
            _, df, ok = _iterate(wl, spark, tr)
            if ok:
                with tr.span("trace.harvest"):
                    harvested = tracing.plan_nodes(df)
        traced_s.append(time.perf_counter() - t0)
        oks.append(ok)
    out = tracing.plan_metrics(harvested)
    out.update(tracing.stage_metrics(spark, group))
    sc.setJobGroup("isolation", "isolation")
    tr.trace_id = "isolation"

    jobs = {"sources.scan_s": lambda: wl.scan_job(spark)}
    if wl.geocode_job is not None:
        jobs["functions.geocode_job_s"] = lambda: wl.geocode_job(spark)
    if wl.cover_df is not None:
        jobs["operators.cover_job_s"] = lambda: wl.cover_job(spark, tr)
    job_s = {k: [] for k in jobs}
    iso_iter_s = []
    for _ in range(N_TRACED_ITERS):
        for k, job in jobs.items():
            with tr.span(k) as span:
                job()
            job_s[k].append(span["end"] - span["start"])
        dt, _, ok = _iterate(wl, spark, null)
        iso_iter_s.append(dt)
        oks.append(ok)
    iso = {k: statistics.median(v) for k, v in job_s.items()}
    scan_s = iso["sources.scan_s"]
    geocode_s = iso.get("functions.geocode_job_s", 0.0)
    cover_s = iso.get("operators.cover_job_s", 0.0)
    cover_calls = tr.durations("operators.cover_lookup_best")

    out.update(wl.kernel_timers())
    udf_rows = out.pop("functions.udf_rows")
    out.update({
        "functions.udf_rows_per_input_row": udf_rows / wl.input_rows,
        "functions.geocode_job_s": geocode_s,
        "operators.cover_call_s": statistics.median(cover_calls) if cover_calls else 0.0,
        "operators.cover_job_s": cover_s,
        "operators.cover_depths": wl.cover_depths,
        "operators.match_ratio": wl.match_ratio(),
        "sources.scan_s": scan_s,
        "plans.session_s": session_s,
        "host.calib_s": record["host_calib_s"],
        "trace.overhead_frac": 1.0 - statistics.median(untraced_s) / statistics.median(traced_s),
        "trace.layer_sum_ratio": (scan_s + max(geocode_s - scan_s, 0.0) + cover_s)
        / statistics.median(iso_iter_s),
    })
    path = os.path.join(HERE, "_traces", f"{wl.name}-seed{wl.seed}-{os.getpid()}.jsonl")
    tr.write(path)
    record.update(traced_iter_s=traced_s, untraced_iter_s=untraced_s,
                  isolation_iter_s=iso_iter_s, spans_file=os.path.relpath(path, ROOT))
    out["_attempted"], out["_failed"] = len(oks), oks.count(False)
    return out


if __name__ == "__main__":
    sys.exit(main())
