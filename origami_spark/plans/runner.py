"""Checkpointed stage runner: scan -> anti-join resume -> transform ->
commit + per-partition lineage.

The Spark-native survivor of origami's whole batch framework
(``batch/core/processor.py``):

* readiness check / skip-done   (``processor.py:365-394``)  ->
  **left-anti join** of the source against the stage output's committed
  keys — resume-from-checkpoint without any mutex, because partition
  writes are idempotent per url and the commit is atomic at the
  directory level (Iceberg snapshot commit on a real deployment; local
  parquet here with the same append semantics)
* sqlite/file mutex work claiming (``batch/core/mutex.py``)  ->
  not needed: the driver owns task assignment
* runtime.json lineage          (``processor.py:628-662``)  ->
  `_lineage` rows per (stage, partition): doc count, order-insensitive
  url digest (bit_xor of xxhash64), wall time, status
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"


def _exists(path: str) -> bool:
    # local-fs check; on a cluster the catalog answers this (table exists)
    return os.path.exists(path)


def run_stage(
    spark: SparkSession,
    name: str,
    src: DataFrame,
    build,
    work_dir: str,
    run_id: str | None = None,
) -> DataFrame:
    """Run one pipeline stage with resume + lineage; return the full
    committed stage table (previous snapshots + this run's appends).

    `build`: DataFrame -> DataFrame (kernels and/or relational ops).
    Only rows whose `url` is not yet committed are computed (anti-join
    resume); the transform result is appended as plain parquet and
    committed through the snapshot manifest, the stage's only reader:
    the returned frame reads exactly the head version's files, whatever
    their naming (bucket-id-suffixed part files a bucketed writer left
    read like any other).
    """
    out_path = os.path.join(work_dir, name)
    lineage_path = os.path.join(work_dir, LINEAGE_DIR)
    run_id = run_id or uuid.uuid4().hex[:12]

    from .snapshots import (
        _data_files,
        commit_snapshot,
        delete_snapshots,
        read_snapshot,
        snapshots,
    )

    todo = src
    if not _exists(out_path) and snapshots(work_dir, name):
        # stage dir removed out-of-band while _snapshots/ survived: the
        # manifests point at deleted files.  Extending them on this run
        # would make every future read_snapshot fail — treat them as
        # stale and recompute from scratch.
        delete_snapshots(work_dir, name)
    if _exists(out_path):
        # resume against the COMMITTED view (snapshot manifests), not the
        # raw directory: a crash between the parquet append and the
        # snapshot commit leaves orphan files that are NOT done work —
        # reading the raw dir would skip those urls forever while every
        # snapshot missed them.  Orphaned urls are recomputed and the old
        # orphan files simply never enter any manifest.  A table dir with
        # ZERO snapshots is the first-run crash: everything in it is
        # uncommitted, so the full src recomputes.
        if snapshots(work_dir, name):
            committed = read_snapshot(spark, work_dir, name)
            done = committed.select("url").distinct()
            todo = src.join(done, "url", "left_anti")
            if todo.isEmpty():  # fully resumed: nothing to commit
                return committed

    t0 = time.monotonic()
    status = "COMPLETED"
    snap = None
    files_before = _data_files(out_path)
    try:
        result = (
            build(todo)
            .withColumn("_part_id", F.spark_partition_id())
            .withColumn("_run_id", F.lit(run_id))
        )
        result.write.mode("append").parquet(out_path)
        # versioned snapshot commit (Iceberg-commit analog, see
        # plans/snapshots.py): readers via read_snapshot get snapshot
        # isolation + time travel over the same parquet files
        snap = commit_snapshot(work_dir, name, run_id, files_before)
    except Exception:
        status = "FAILED"
        raise
    finally:
        wall = time.monotonic() - t0
        try:
            if status == "COMPLETED" and snap is not None and snap["added"]:
                # lineage over exactly THIS run's appended FILES (from
                # the snapshot manifest) — not a _run_id filter over the
                # raw dir, which would double-count orphans whenever a
                # retry reuses the crashed run's run_id
                added = [os.path.join(out_path, f) for f in snap["added"]]
                lineage = (
                    spark.read.parquet(*added)
                    .groupBy("_part_id")
                    .agg(
                        F.count(F.lit(1)).alias("doc_count"),
                        F.expr("bit_xor(xxhash64(url))").alias("digest"),
                    )
                    .select(
                        F.lit(name).alias("stage"),
                        F.lit(run_id).alias("run_id"),
                        F.col("_part_id").alias("partition_id"),
                        "doc_count",
                        F.conv(F.col("digest").cast("string"), 10, 16).alias("digest"),
                        F.lit(wall).alias("wall_time"),
                        F.lit(status).alias("status"),
                    )
                )
            else:
                lineage = spark.createDataFrame(
                    [(name, run_id, -1, 0, "", wall, status)],
                    "stage string, run_id string, partition_id int, "
                    "doc_count bigint, digest string, wall_time double, "
                    "status string",
                )
            lineage.write.mode("append").parquet(lineage_path)
        except Exception:
            pass  # lineage failures never mask the stage result

    # the committed view: ONLY snapshot manifests count (a raw-directory
    # fallback would present crashed-writer orphans as committed data).
    # An all-empty manifest (empty source) has no files to read — the
    # result's own schema supplies the empty frame.
    latest = snapshots(work_dir, name)[-1]
    if not latest["manifest"]:
        return result.limit(0).drop("_part_id", "_run_id")
    return read_snapshot(spark, work_dir, name)
