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


def _stage_table_name(work_dir: str, name: str) -> str:
    """Catalog identifier for a bucketed stage table, unique per
    (work_dir, stage)."""
    import hashlib

    return ("stage_" + hashlib.md5(work_dir.encode()).hexdigest()[:10]
            + "_" + name)


# bucketed part files carry a _NNNNN bucket-id suffix before the codec
# extension (part-00000-<uuid>_00003.c000.snappy.parquet)
_BUCKET_FILE_RE = None


def _dir_is_bucketed(path: str, files: list | None = None) -> bool:
    import re

    global _BUCKET_FILE_RE
    if _BUCKET_FILE_RE is None:
        _BUCKET_FILE_RE = re.compile(r"_\d{5}\.")
    if files is None:
        from .snapshots import _data_files

        files = _data_files(path)
    return bool(files) and all(_BUCKET_FILE_RE.search(f) for f in files)


def _bucket_meta_path(work_dir: str, name: str) -> str:
    from .snapshots import SNAPSHOT_DIR

    return os.path.join(work_dir, SNAPSHOT_DIR, f"{name}-buckets.json")


def _record_bucket_spec(work_dir: str, name: str, key: str,
                        buckets: int) -> None:
    import json

    path = _bucket_meta_path(work_dir, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump({"buckets": buckets, "key": key}, f)


def _delete_bucket_spec(work_dir: str, name: str) -> None:
    path = _bucket_meta_path(work_dir, name)
    if os.path.exists(path):
        os.remove(path)


def _recorded_bucket_spec(work_dir: str, name: str) -> dict | None:
    import json

    path = _bucket_meta_path(work_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _catalog_bucket_count(spark: SparkSession, tbl: str) -> int | None:
    """Bucket count a registered table was created with, from DESCRIBE
    EXTENDED (None when the row is absent or unparseable)."""
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{tbl}`").collect():
            if r["col_name"] == "Num Buckets":
                return int(r["data_type"])
    except Exception:
        pass
    return None


def _prepare_bucketed_write(spark: SparkSession, work_dir: str, name: str,
                            result: DataFrame, key: str,
                            buckets: int) -> int | None:
    """Make a bucketed append SAFE.  Returns the EFFECTIVE bucket count
    to write with (None = downgrade this write to plain parquet).

    Two hazards guarded here:

    * the catalog is session-local (in-memory): on a resumed run in a
      NEW driver the table entry is gone while the data directory
      survives, and ``saveAsTable(mode='append')`` would fall back to
      CREATE semantics and WIPE the committed files.  When the entry is
      missing but bucket-suffixed data exists, the external table is
      re-registered over the existing location — nothing rewritten.
    * the bucket spec the FILES were written with is the only truth:
      the spec is recorded at first bucketed write
      (_snapshots/<stage>-buckets.json) and a resume requesting a
      DIFFERENT count uses the recorded one — registering N=8 metadata
      over mod-4-hashed files would silently drop join matches.

    A directory that predates bucketing (plain part files) downgrades
    this write to plain parquet: mixed layouts would lie to the
    planner."""
    out_path = os.path.join(work_dir, name)
    tbl = _stage_table_name(work_dir, name)
    recorded = _recorded_bucket_spec(work_dir, name)
    if recorded and recorded.get("key") != key:
        # bucket metadata over files hashed by a different column would
        # elide exchanges the data does not justify — fail loudly; the
        # caller must reset the stage to change its bucketing key
        raise ValueError(
            f"stage {name!r} was bucketed by {recorded['key']!r}; "
            f"cannot resume it with key={key!r} (reset the stage first)")
    effective = recorded["buckets"] if recorded else buckets
    from .snapshots import _data_files

    files = _data_files(out_path)
    if spark.catalog.tableExists(tbl):
        if files and not _dir_is_bucketed(out_path, files=files):
            # plain files crept into the directory (out-of-band write):
            # the catalog bucket metadata now lies about the files —
            # drop BOTH the table and the recorded spec (a stale spec
            # would resurrect bucketing on every later flag-less run)
            spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
            _delete_bucket_spec(work_dir, name)
            return None
        if recorded is None:
            # spec file lost (e.g. stale-manifest recovery wiped
            # _snapshots/): re-derive the count from the catalog entry
            # — never the caller's argument, which may differ from what
            # the surviving files were hashed with.  If the catalog row
            # is unreadable, record NOTHING: a mismatched append will
            # fail loudly on saveAsTable's own bucket-spec validation
            # rather than persisting a possibly-wrong count
            cat = _catalog_bucket_count(spark, tbl)
            if cat:
                effective = cat
                _record_bucket_spec(work_dir, name, key, effective)
        return effective

    if not files:
        _record_bucket_spec(work_dir, name, key, effective)
        return effective  # fresh table: saveAsTable creates dir + entry
    if not _dir_is_bucketed(out_path, files=files):
        return None  # mixed layout would lie to the planner
    if recorded is None:
        # catalog entry AND recorded spec both gone, but bucket-suffixed
        # files survive: registering the CALLER's count here would be
        # the same silent-join-loss hazard the tableExists branch guards
        # against (ADVICE r3).  The files' own bucket-id suffixes are
        # only a LOWER bound on the count they were hashed with — a
        # mod-16 table whose small key set happens to occupy ids 0..7
        # is indistinguishable from a mod-8 table — so no argument is
        # provable and the only safe move is to refuse: this and all
        # later appends downgrade to plain parquet, which the manifest
        # reader handles correctly (the bucket layout is lost, never
        # the data; reset the stage to re-bucket).
        return None
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in result.schema.fields)
    spark.sql(
        f"CREATE TABLE {tbl} ({cols}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {effective} BUCKETS "
        f"LOCATION '{out_path}'"
    )
    _record_bucket_spec(work_dir, name, key, effective)
    return effective


def run_stage(
    spark: SparkSession,
    name: str,
    src: DataFrame,
    build,
    work_dir: str,
    key: str = "url",
    run_id: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Run one pipeline stage with resume + lineage; return the full
    committed stage table (previous snapshots + this run's appends).

    `build`: DataFrame -> DataFrame (kernels and/or relational ops).
    Only rows whose `key` is not yet committed are computed (anti-join
    resume); the transform result is appended atomically.

    ``buckets``: write the stage table ``bucketBy(buckets, key)`` +
    ``sortBy(key)``: bucketing pays the shuffle once at write time, so
    every downstream join/window on `key` — the S5->S8 chain is nothing
    else — reads co-located buckets instead of paying an Exchange per
    stage.  The
    snapshot manifest stays the source of truth: the bucketed catalog
    view is returned only when the data directory holds exactly the
    committed files (no crashed-writer orphans); otherwise the reader
    falls back to the manifest file list, which is always correct but
    loses the bucket layout for that run.
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
    if buckets is None:
        recorded = _recorded_bucket_spec(work_dir, name)
        if recorded:
            # the stage was created bucketed: later runs must stay
            # bucketed even when the caller omits the flag — a plain
            # append would mix layouts under the catalog's bucket
            # metadata and silently break exchange-elided joins
            buckets = recorded["buckets"]
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
            done = committed.select(key).distinct()
            todo = src.join(done, key, "left_anti")
            if todo.isEmpty():  # fully resumed: nothing to commit
                return _committed_view(spark, work_dir, name, buckets,
                                       fallback=committed)

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
        effective_buckets = (
            _prepare_bucketed_write(spark, work_dir, name, result, key,
                                    buckets)
            if buckets else None
        )
        if effective_buckets:
            # co-located stage table: the one-time shuffle here buys
            # exchange-free joins/windows on `key` for every downstream
            # stage (and every later run)
            (
                result.write.mode("append")
                .bucketBy(effective_buckets, key)
                .sortBy(key)
                .option("path", out_path)
                .format("parquet")
                .saveAsTable(_stage_table_name(work_dir, name))
            )
        else:
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
                        F.expr(f"bit_xor(xxhash64({key}))").alias("digest"),
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
    return _committed_view(spark, work_dir, name, buckets)


def _committed_view(spark: SparkSession, work_dir: str, name: str,
                    buckets: int | None,
                    fallback: DataFrame | None = None) -> DataFrame:
    """The stage's committed rows, preferring the bucketed catalog table
    (exchange-free downstream) when it provably equals the committed
    view: the catalog table lists the whole directory, so it is only
    safe when the directory holds exactly the latest manifest's files —
    any crashed-writer orphan forces the manifest file list instead."""
    from .snapshots import _data_files, read_snapshot, snapshots

    if buckets:
        tbl = _stage_table_name(work_dir, name)
        clean = set(_data_files(os.path.join(work_dir, name))) == set(
            snapshots(work_dir, name)[-1]["manifest"])
        if clean and spark.catalog.tableExists(tbl):
            return spark.table(tbl).drop("_part_id", "_run_id")
    if fallback is not None:
        return fallback
    return read_snapshot(spark, work_dir, name)


def reset_stages(work_dir: str, stages, spark: SparkSession | None = None) -> list:
    """Delete chosen stage checkpoints so they recompute on the next run
    (the `reset` batch analog, ``batch/utils/reset.py:14-60``; with
    Iceberg this is a snapshot rollback / DROP TABLE).  Returns the
    stages actually removed.  Pass the active session to also drop the
    stage's bucketed catalog entry (same-session reset of a bucketed
    run); without it the entry dies with the session anyway."""
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
        if spark is not None:
            spark.sql(
                f"DROP TABLE IF EXISTS {_stage_table_name(work_dir, stage)}")
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


def sample_stage(spark: SparkSession, work_dir: str, stage: str,
                 fraction: float = 0.01, seed: int = 42) -> DataFrame:
    """Deterministic sample of a stage table for eyeballing (the
    `sample` export analog, ``batch/utils/sample.py``)."""
    return spark.read.parquet(os.path.join(work_dir, stage)).sample(
        fraction=fraction, seed=seed
    )


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


def compact_stage(spark: SparkSession, work_dir: str, name: str,
                  target_files: int = 1, reclaim: bool = False) -> dict:
    """Small-file compaction for a committed stage (the Iceberg
    rewrite-data-files analog): read the latest snapshot, rewrite it as
    ``target_files`` larger parquet files in the same directory, and
    commit the result as a REWRITE snapshot.  The new head serves reads
    from the compacted files; every older version still time-travels
    over the original files until ``expire_snapshots`` + ``vacuum_stage``
    reclaim them — pass ``reclaim=True`` to do both immediately
    (trading time travel for space).  NB raw-directory readers
    (sample_stage) see BOTH generations until reclaim runs; snapshot
    readers never do.

    Bucketed stages compact through the bucketed writer with the
    RECORDED spec (``target_files`` is ignored — the file count is the
    bucket count): a ``repartition(N, key)`` pre-shuffle aligns tasks
    with buckets, so the rewrite emits ~one file per bucket.  Until
    ``reclaim`` runs, the directory holds both generations, so the
    committed view falls back to the manifest file list (correct rows,
    bucket layout unusable); after reclaim the directory equals the
    manifest again and the catalog bucketed table serves the compacted
    files exchange-free.

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
    # the on-disk schema — the bucketed catalog table declares them,
    # and plain stages keep one schema across their whole history)
    head = snapshots(work_dir, name)
    if not head:
        raise ValueError(f"no snapshots committed for stage {name!r}")
    # mergeSchema: a head manifest can mix schemas (files from an
    # older engine version may lack the lineage columns) — schema
    # inference from one arbitrary file would silently truncate
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(out_path, f) for f in head[-1]["manifest"]])
    spec = _recorded_bucket_spec(work_dir, name)
    before = _data_files(out_path)
    # the source is a pinned file list (read_snapshot reads explicit
    # paths), so appending the rewrite into the same directory is safe
    if spec:
        # check the layout BEFORE _prepare_bucketed_write: its mixed-
        # layout branch drops the table AND the spec file, which would
        # make a retry silently compact as plain — checking first keeps
        # this error idempotent (same message, no side effects)
        files = _data_files(out_path)
        if files and not _dir_is_bucketed(out_path, files=files):
            raise ValueError(
                f"stage {name!r} has a bucket spec but a mixed-layout "
                "directory — reset the stage before compacting")
        eff = _prepare_bucketed_write(spark, work_dir, name, df,
                                      spec["key"], spec["buckets"])
        if eff is None:  # unreachable given the check above; be loud
            raise RuntimeError(
                f"stage {name!r}: bucketed write preparation downgraded "
                "unexpectedly")
        (
            df.repartition(eff, spec["key"])
            .write.mode("append")
            .bucketBy(eff, spec["key"]).sortBy(spec["key"])
            .option("path", out_path).format("parquet")
            .saveAsTable(_stage_table_name(work_dir, name))
        )
    else:
        df.coalesce(target_files).write.mode("append").parquet(out_path)
    snap = commit_snapshot(work_dir, name, run_id="compact-" + uuid.uuid4().hex[:8],
                           before_files=before, replace=True)
    if reclaim:
        from .snapshots import expire_snapshots, vacuum_stage

        expire_snapshots(work_dir, name, keep_last=1)
        vacuum_stage(work_dir, name)
    return snap
