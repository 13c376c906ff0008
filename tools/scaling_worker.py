"""One scaling-bench trial: flagship pipeline at a given local[N] parallelism.

Usage: python tools/scaling_worker.py <cpus> <n_pages>
Prints ONE JSON line: {"cpus": N, "wall_s": .., "pages_per_sec": ..,
"n_geocoded": .., "partition_skew": max/median input-partition rows,
"hot_share": top-municipality share of output rows}.

Run in a FRESH process per parallelism level (the JVM master can't change
in-process); the parent, bench.py, computes the two-cluster-size efficiency
per the BASELINE.json north rule.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(cpus: int, n_pages: int) -> dict:
    from pyspark.sql import functions as F

    from co_new_spark.operators.cover import flagship
    from co_new_spark.plans.session import get_spark

    from co_new_spark.sources.reference_data import load_citycover

    spark = get_spark(app=f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    cover = load_citycover(spark)
    parts = int(os.environ.get("SCALING_PARTS", cpus * 4))
    # stored-table input (north rule): parent materializes once, every level
    # scans the same parquet bytes; generate only if launched standalone
    src_path = os.environ.get("SCALING_PAGES_PARQUET")
    if not src_path:
        from co_new_spark.sources.pages import materialize_pages

        src_path = materialize_pages(spark, n_pages, partitions=parts)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    def job(src):
        return flagship(src, cover).groupBy("isolabel_ext").agg(F.count("*").alias("n"))

    # steady-state warmup (untimed): execute the SAME plan shape once —
    # plan analysis + whole-stage codegen + python-worker imports are
    # per-process costs a long-running job amortizes to zero, and they are
    # asymmetric across parallelism levels (same ~2 s JVM-side at N and 4N),
    # which would bias the efficiency ratio if charged to the timed run.
    # The timed run REBUILDS the DataFrame: re-collecting the same object
    # would skip the heavy shuffle-map stage (its output files persist) and
    # time only the reduce.
    job(spark.read.parquet(src_path)).collect()

    agg = job(spark.read.parquet(src_path))
    t0 = time.time()
    t0_utc = time.gmtime(t0)
    rows = agg.collect()
    wall = time.time() - t0
    n_geo = sum(r.n for r in rows)
    hot_share = max(r.n for r in rows) / n_geo

    # input-partition balance of the scan feeding the Arrow-UDF stage
    pg = spark.read.parquet(src_path)
    sizes = [r.n for r in pg.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count("*").alias("n")).collect()]
    skew = max(sizes) / statistics.median(sizes)

    # straggler ratio (max/median executor run time) of the heaviest stage,
    # via the Spark UI REST API (BASELINE.md metric)
    straggler = None
    try:
        import json as _json
        import urllib.request

        ui = spark.sparkContext.uiWebUrl
        apps = _json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5))
        app_id = apps[0]["id"]
        stages = _json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete", timeout=5))
        # only the TIMED run's stages: warmup stages ran codegen-cold and
        # would dominate both executorRunTime and the straggler ratio
        cutoff = time.strftime("%Y-%m-%dT%H:%M:%S", t0_utc)
        timed = [s for s in stages
                 if s.get("submissionTime", "") >= cutoff]
        heavy = max(timed or stages, key=lambda s: s.get("executorRunTime", 0))
        q = _json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages/{heavy['stageId']}/"
            f"{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0", timeout=5))
        med, mx = q["executorRunTime"]
        straggler = round(mx / med, 3) if med else None
    except Exception:
        pass

    return {
        "cpus": cpus,
        "pages": n_pages,
        "wall_s": round(wall, 2),
        "pages_per_sec": round(n_pages / wall, 1),
        "n_geocoded": int(n_geo),
        "partition_skew": round(skew, 3),
        "hot_share": round(hot_share, 4),
        "straggler_ratio": straggler,
    }


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]), int(sys.argv[2]))))
