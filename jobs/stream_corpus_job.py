#!/usr/bin/env python
"""Cluster entry point for the CONTINUOUS corpus pipeline.

    python jobs/make_bundle.py          # -> dist/origami_spark.zip
    spark-submit --driver-memory 8g \
        --py-files dist/origami_spark.zip jobs/stream_corpus_job.py \
        --source /data/landing --output /data/corpus_stream \
        --checkpoint /data/corpus_ckpt \
        --min-tokens 20 --watermark '1 day' --trigger 30

Runs ``origami_spark.streaming.stream_corpus``: watermark-bounded
dedup on the raw html digest, then the batch DAG's extraction +
quality-gate operators per micro-batch into the exactly-once
``batch_id`` sink.  ``--drain`` processes everything currently landed
and exits (availableNow) — the catch-up / cron mode; without it the
query runs until killed, and the checkpoint resumes it exactly-once
on restart.

On a cluster, spark-submit provides master/executors; this script
never calls .master().  Local smoke:

    python jobs/stream_corpus_job.py --source /tmp/land \
        --output /tmp/out --checkpoint /tmp/ckpt --drain
"""

from __future__ import annotations

import argparse
import json


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True,
                    help="landing-zone dir of parquet page files")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--watermark", default="1 day",
                    help="dedup state horizon (event time)")
    ap.add_argument("--trigger", type=int, default=30,
                    help="micro-batch trigger seconds (ignored with --drain)")
    ap.add_argument("--max-files-per-trigger", type=int, default=64)
    ap.add_argument("--drain", action="store_true",
                    help="availableNow: process the backlog and exit")
    ap.add_argument("--compact-to", default=None,
                    help="after the query ends, fold the landed batch_id "
                         "partitions keep-newest-per-url into this dir "
                         "(closes the documented cross-batch re-crawl "
                         "duplicate window)")
    ap.add_argument("--near-dup-index", default=None,
                    help="signature-index dir for continuous cross-batch "
                         "near-dup: each micro-batch dedups against the "
                         "accumulated index and appends its survivors' "
                         "signatures (dedup.signature_index rows)")
    ap.add_argument("--timeout", type=int, default=0,
                    help="stop after N seconds (0 = run forever)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("origami-stream-corpus")
    if not SparkSession.getActiveSession():
        import os

        if "SPARK_SUBMIT" not in os.environ and not os.environ.get("SPARK_MASTER"):
            builder = builder.master("local[*]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from origami_spark.streaming import stream_corpus

    q = stream_corpus(
        spark,
        args.source,
        args.output,
        args.checkpoint,
        min_tokens=args.min_tokens,
        watermark=args.watermark,
        trigger_seconds=args.trigger,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.drain,
        near_dup_index_dir=args.near_dup_index,
    )
    # --timeout bounds BOTH modes (a huge backlog drain included):
    # wait up to N seconds, then stop whatever is in flight
    if args.timeout:
        q.awaitTermination(args.timeout)
        q.stop()
    else:
        q.awaitTermination()
    # report only COMMITTED batches: a timeout can interrupt a sink
    # write mid-batch, and that batch will be replayed/rewritten on
    # restart — counting its partial rows would contradict the
    # exactly-once story (and an empty landing zone never creates the
    # output dir at all)
    import glob
    import os

    done = [d for d in glob.glob(os.path.join(args.output, "batch_id=*"))
            if os.path.exists(os.path.join(d, "_SUCCESS"))]
    if done:
        out = spark.read.parquet(*done)
        report = {"rows": out.count(), "batches": len(done)}
    else:
        report = {"rows": 0, "batches": 0}
    if args.compact_to and done:
        from origami_spark.streaming.corpus import compact_corpus

        compacted = compact_corpus(spark, args.output, args.compact_to)
        report["compacted_rows"] = compacted.count()
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    import sys

    # local smoke runs as `python jobs/stream_corpus_job.py` with no
    # --py-files: make the repo root importable (same as the other jobs;
    # under spark-submit the zip on --py-files serves the executors)
    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    main()
