#!/usr/bin/env python
"""Cluster entry point: the whole DAG via spark-submit.

    spark-submit --py-files origami_spark.zip jobs/extract_job.py \
        --input  /data/pages            \
        --output /data/extracted        \
        --staged --artifacts            \
        --partitions 4096

With --staged every stage is plain parquet under --output, committed
through its snapshot manifest (``_snapshots/``); rerunning the same
command resumes, computing only documents no snapshot holds yet.

On a cluster, spark-submit provides master/executors; this script never
calls .master().  Local smoke:

    python jobs/extract_job.py --generate 1000 --output /tmp/out

Build the py-files bundle with:  python jobs/make_bundle.py
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of pages (url, html, ...)")
    ap.add_argument("--generate", type=int, default=0,
                    help="instead of --input: generate N synthetic pages")
    ap.add_argument("--output", required=True)
    ap.add_argument("--staged", action="store_true",
                    help="checkpointed resumable chain (work dir = --output)")
    ap.add_argument("--artifacts", action="store_true",
                    help="with --staged: also commit features/lines/tables/orders")
    ap.add_argument("--relational", action="store_true",
                    help="use the relational operator chain instead of fused")
    ap.add_argument("--partitions", type=int, default=None,
                    help="parse partitions of the relational and staged "
                         "chains (the fused pass sizes its own)")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("origami-extract")
    if not SparkSession.getActiveSession():
        # local smoke only; under spark-submit the master is provided
        import os

        if "SPARK_SUBMIT" not in os.environ and not os.environ.get("SPARK_MASTER"):
            builder = builder.master("local[*]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from origami_spark.pipeline import extract, extract_fused, extract_staged
    from origami_spark.sources.corpus import pages_df

    if args.generate:
        pages = pages_df(spark, args.generate, seed=args.seed)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --generate is required")

    t0 = time.monotonic()
    if args.staged:
        out = extract_staged(spark, pages, args.output,
                             partitions=args.partitions,
                             artifacts=args.artifacts)
        n = out.count()
    else:
        out = (extract(spark, pages, partitions=args.partitions)
               if args.relational else extract_fused(spark, pages))
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    wall = time.monotonic() - t0
    print(json.dumps({
        "docs": n,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1),
        "output": args.output,
        "mode": ("staged" if args.staged
                 else "relational" if args.relational else "fused"),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    main()
