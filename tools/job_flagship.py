"""spark-submit entry point for the flagship pipeline (north-rule deployment).

Deployment (the --py-files contract; works unchanged on a multi-executor
cluster — only --master and executor confs differ):

    python -m zipfile -c /tmp/co_new_spark.zip co_new_spark
    spark-submit --master local[8] \\
        --py-files /tmp/co_new_spark.zip \\
        tools/job_flagship.py --pages 1000000 --output /tmp/flagship_out

The job geocodes synthetic CC-style pages, cover-joins them, aggregates per
municipality x L0 bucket, and commits the result through the lineage ledger
(resumable: re-submitting with the same --output skips completed buckets).
Prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit owns master/deploy confs; only engine-level settings here
    from co_new_spark.plans.session import ENGINE_CONFS

    b = SparkSession.builder.appName("co-flagship")
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from co_new_spark.functions import cells_sql
    from co_new_spark.operators.cover import flagship
    from co_new_spark.plans import lineage
    from co_new_spark.sources.pages import pages
    from co_new_spark.sources.reference_data import load_citycover

    t0 = time.time()
    cover = load_citycover(spark)
    hit = flagship(pages(spark, args.pages, partitions=args.partitions), cover)
    agg = (hit.withColumn("l0", cells_sql.cell_l0_digit(F.col("cell")))
           .groupBy("l0", "isolabel_ext").agg(F.count("*").alias("n_pages")))
    res = lineage.resumable_write(agg, args.output, "l0")
    led = lineage.metrics(spark, args.output)
    n_rows = led.agg(F.sum("n_rows")).first()[0]
    print(json.dumps({
        "pages": args.pages,
        "wall_s": round(time.time() - t0, 2),
        "buckets_written": res["written"],
        "buckets_skipped": res["skipped"],
        "ledger_rows": int(n_rows),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
