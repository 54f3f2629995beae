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
* stats batch                   (``batch/utils/stats.py:88-103``) ->
  `lineage_stats`: count + min/median/p90 over wall times
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


def reset_stages(work_dir: str, stages) -> list:
    """Delete chosen stage checkpoints so they recompute on the next run
    (the `reset` batch analog, ``batch/utils/reset.py:14-60``; with
    Iceberg this is a snapshot rollback or a dropped table): each stage's
    directory and snapshot manifests go.  Returns the stages whose
    directory was removed."""
    import shutil

    from .snapshots import delete_snapshots

    removed = []
    for stage in stages:
        path = os.path.join(work_dir, stage)
        if os.path.exists(path):
            shutil.rmtree(path)
            removed.append(stage)
        # drop snapshots even when the table dir is already gone
        # (removed out-of-band): a surviving stale manifest would make
        # the next run_stage extend it with fresh files while its old
        # entries point at deleted data — the stage would then fail on
        # every read, permanently
        delete_snapshots(work_dir, stage)
    return removed


def cleanup_incomplete(work_dir: str) -> list:
    """Remove stage dirs whose write never committed (no _SUCCESS) — the
    corrupt-artifact cleanup analog (``batch/utils/cleanup.py:14-50``).
    Parquet dir writes are atomic-at-commit, so a missing marker means a
    crashed writer left partial files."""
    import shutil

    from .snapshots import SNAPSHOT_DIR

    removed = []
    if not os.path.isdir(work_dir):
        return removed
    for stage in os.listdir(work_dir):
        if stage == SNAPSHOT_DIR:  # catalog metadata, not a parquet table
            continue
        path = os.path.join(work_dir, stage)
        if os.path.isdir(path) and not os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            shutil.rmtree(path)
            from .snapshots import delete_snapshots

            delete_snapshots(work_dir, stage)
            removed.append(stage)
    return removed


def sample_stage(spark: SparkSession, work_dir: str, stage: str) -> DataFrame:
    """Deterministic 1% sample of a stage's committed rows for eyeballing
    (the `sample` export analog, ``batch/utils/sample.py``)."""
    from .snapshots import read_snapshot

    return read_snapshot(spark, work_dir, stage).sample(fraction=0.01, seed=42)


def lineage_stats(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-stage doc counts + wall-time quantiles (stats.py analog)."""
    lin = spark.read.parquet(os.path.join(work_dir, LINEAGE_DIR))
    return lin.groupBy("stage", "run_id", "status").agg(
        F.sum("doc_count").alias("docs"),
        F.count(F.lit(1)).alias("partitions"),
        F.min("wall_time").alias("wall_min"),
        F.expr("percentile(wall_time, 0.5)").alias("wall_median"),
        F.expr("percentile(wall_time, 0.9)").alias("wall_p90"),
    )


def compact_stage(spark: SparkSession, work_dir: str, name: str) -> dict:
    """Small-file compaction for a committed stage (the Iceberg
    rewrite-data-files analog): read the latest snapshot, rewrite it as
    one parquet file in the same directory, and commit the result as a
    REWRITE snapshot.  The new head serves reads from the compacted
    file; every older version still time-travels over the original
    files until ``expire_snapshots`` + ``vacuum_stage`` reclaim them.

    At 10^5 partitions a long-appended stage accretes one small file
    per partition per run; reads then pay per-file open cost and the
    driver pays listing cost.  Compaction is the standard maintenance
    pass — run it between ingest waves, never concurrently with a
    writer (single-writer-per-stage is already the snapshot-commit
    contract).
    """
    from .snapshots import _data_files, commit_snapshot, snapshots

    out_path = os.path.join(work_dir, name)
    # read the head manifest RAW (read_snapshot drops the internal
    # _part_id/_run_id lineage columns, but the rewrite must preserve
    # the on-disk schema: a stage keeps one schema across its history)
    head = snapshots(work_dir, name)
    if not head:
        raise ValueError(f"no snapshots committed for stage {name!r}")
    # mergeSchema: a head manifest can mix schemas (files from an
    # older engine version may lack the lineage columns) — schema
    # inference from one arbitrary file would silently truncate
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(out_path, f) for f in head[-1]["manifest"]])
    before = _data_files(out_path)
    # the source is a pinned file list (read_snapshot reads explicit
    # paths), so appending the rewrite into the same directory is safe
    df.coalesce(1).write.mode("append").parquet(out_path)
    return commit_snapshot(work_dir, name, run_id="compact-" + uuid.uuid4().hex[:8],
                           before_files=before, replace=True)
