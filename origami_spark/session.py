"""SparkSession factory with scale-oriented defaults, and the scoped
``cache`` / ``checkpoint`` every cached intermediate and lineage cut
goes through.

Tuned for the pipeline's shape: wide binary payloads through Arrow
kernels + relational glue.  On a real cluster the same settings apply;
only ``master`` changes (spark-submit provides it).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar
from functools import partial

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# html payloads can be MBs; bound Arrow batch size so one batch of large
# pages never blows executor memory (the reference bounds worker RSS via
# maxtasksperchild=4, processor.py:483 — same concern, Spark-native knob)
ARROW_MAX_RECORDS = 512
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the releases owed by this thread's innermost open cache_scope()
# (None: none open); a ContextVar, so no thread sees or releases
# another's frames
_SCOPE: ContextVar[list | None] = ContextVar("cache_scope", default=None)


def _owe(release) -> None:
    releases = _SCOPE.get()
    if releases is not None:
        releases.append(release)


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, owned by the innermost open :func:`cache_scope`
    of the current thread; with no scope open the frame stays cached
    for the session.  Shaped for ``df.transform(cache)``."""
    out = df.cache()
    _owe(out.unpersist)
    return out


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df``: the result's plan is one
    ``LogicalRDD``, so every later action plans from here instead of
    re-analyzing ``df``'s whole lineage.  A cached ``df`` is
    unpersisted at once: the checkpoint job has read the cache, and
    storage keeps one copy, not two.  The checkpoint's blocks are
    owned like a cached frame's: by the innermost open
    :func:`cache_scope` of the current thread, or with none open by the
    session.  Shaped for ``df.transform(checkpoint)``."""
    out = df.localCheckpoint(eager=True)
    if df.is_cached:
        df.unpersist()
    # DataFrame.unpersist does not reach a checkpoint: its blocks belong
    # to the RDD under the LogicalRDD the checkpoint is planned from
    _owe(partial(out._jdf.queryExecution().logical().rdd().unpersist, False))
    return out


@contextmanager
def cache_scope():
    """Release every frame :func:`cache` or :func:`checkpoint`
    registered inside the block when it exits, normally or by an
    exception — Spark holds a cached frame or a checkpoint's blocks
    until they are released, not until the driver drops the frame.
    Scopes nest: an inner scope releases only its own frames.  A lazy
    frame that leaves the block over a released cache stays correct
    but recomputes from lineage, so materialize it inside (collect,
    write) when that matters; one over a released *checkpoint* cannot
    recompute and fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    releases: list = []
    token = _SCOPE.set(releases)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for release in releases:
            # best effort: a dead session makes the release itself
            # raise — that must neither mask the block's exception nor
            # skip the remaining releases
            try:
                release()
            except Exception:
                pass


def get_spark(app: str = "origami_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # the cpus this process may run on (taskset), not the host's count
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS",
                                        len(os.sched_getaffinity(0))))
    sp = shuffle_partitions or max(cores, DEFAULT_SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # extracted text compresses ~5-10x in shuffle files; the 64m
        # default advisory size makes AQE coalesce post-shuffle stages of
        # small corpora down to 1-4 tasks and serializes the relational
        # chain.  8m keeps local runs parallel; on a 100 TB cluster the
        # shuffles are far above either threshold so this is a no-op.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # allow shuffled-hash join where the per-partition build side
        # fits (guide §9/§3.1): SMJ pays a full sort of both sides that
        # a hash build avoids; AQE still rewrites to broadcast when a
        # side is small, and SMJ remains the planner's fallback when
        # the size conditions fail
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("ORIGAMI_DRIVER_MEM", "8g"))
        # local[N] pinned under `taskset` still leaves the JVM sizing
        # its GC/JIT/fork-join pools from the HOST's cpu count (32) —
        # at a 2-core scaling leg ~23 ParallelGCThreads thrash the two
        # pinned cpus and add run-to-run variance.  A real cluster
        # executor knows its core count; tell the local JVM the same.
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={cores}")
        # Python workers fork from worker.py, which evicts zip finders
        # before each task's invalidate_caches() would make them re-read
        # pyspark.zip and the spark-core jar (~250 ms per task).  The
        # daemon is started by module name before any task ships code,
        # so the root goes on the workers' path whatever the driver's cwd
        .config("spark.python.daemon.module", "origami_spark.worker")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
