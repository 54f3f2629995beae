"""Snapshot layer for staged tables — the Iceberg-commit analog on
plain parquet, no jars required.

The north rule asks for "checkpointed Iceberg snapshot" semantics: an
atomic, versioned view of each stage table where readers only ever see
fully-committed files and any historical version stays readable (time
travel).  On a real deployment the Iceberg catalog provides this; this
container has no Iceberg jars (verified round 1), so the runner commits
the same METADATA shape itself:

* after every successful stage append, a JSON snapshot
  ``_snapshots/<stage>-v<N>.json`` records the data files that run
  ADDED plus the cumulative manifest (Iceberg: manifest list + snapshot)
* ``read_snapshot(spark, work_dir, stage, version)`` reads exactly the
  files of that version's manifest — a crashed writer's orphan part
  files are invisible (snapshot isolation), and older versions remain
  readable after later appends (time travel / rollback target)

Reference parity: origami chains per-stage artifact directories with
``runtime.json`` lineage (``batch/core/processor.py:628-662``); the
snapshot layer is the table-format-native re-expression of "every stage
commit is inspectable and reproducible".
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

SNAPSHOT_DIR = "_snapshots"


def _data_files(table_path: str) -> list:
    """Sorted relative paths of the table's parquet data files."""
    if not os.path.isdir(table_path):
        return []
    return sorted(
        f for f in os.listdir(table_path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def commit_snapshot(work_dir: str, stage: str, run_id: str,
                    before_files: list) -> dict:
    """Record the files added since `before_files` as a new version
    (an append commit: the new manifest extends the previous one).

    Returns the snapshot dict (version, run_id, added/total files)."""
    table_path = os.path.join(work_dir, stage)
    after = _data_files(table_path)
    added = sorted(set(after) - set(before_files))
    snaps = snapshots(work_dir, stage)
    version = (snaps[-1]["version"] + 1) if snaps else 1
    manifest = (snaps[-1]["manifest"] if snaps else []) + added
    snap = {
        "stage": stage,
        "version": version,
        "run_id": run_id,
        "added": added,
        "manifest": manifest,
        "committed_at": time.time(),
    }
    snap_dir = os.path.join(work_dir, SNAPSHOT_DIR)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".{stage}-v{version}.json.tmp")
    final = os.path.join(snap_dir, f"{stage}-v{version}.json")
    with open(tmp, "w") as f:
        json.dump(snap, f)
    # Catalog-commit semantics demand the version file be created
    # EXCLUSIVELY: os.rename would silently clobber a concurrent
    # committer's same-numbered snapshot (zombie driver + retry racing
    # on one stage), losing a commit.  os.link fails with EEXIST on a
    # collision instead — single writer per stage is a hard requirement
    # and a violation must raise, not corrupt the history.  Filesystems
    # without hard links (some NFS/FUSE/object-store mounts) fall back
    # to O_CREAT|O_EXCL, which keeps exclusivity (losing only the
    # write-then-publish atomicity the link gave).
    def _collision():
        os.remove(tmp)
        return RuntimeError(
            f"snapshot version collision: {final} already exists — "
            f"two writers raced on stage {stage!r}; the stage history "
            "was NOT modified"
        )

    try:
        os.link(tmp, final)
    except FileExistsError:
        raise _collision() from None
    except OSError:
        try:
            fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise _collision() from None
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
    os.remove(tmp)
    return snap


def delete_snapshots(work_dir: str, stage: str) -> int:
    """Remove every snapshot of a stage (paired with deleting the stage
    table itself — stale manifests pointing at deleted files would make
    read_snapshot fail forever).  Returns the number of snapshots
    removed."""
    snap_dir = os.path.join(work_dir, SNAPSHOT_DIR)
    removed = 0
    if os.path.isdir(snap_dir):
        for name in os.listdir(snap_dir):
            if name.startswith(f"{stage}-v") and name.endswith(".json"):
                os.remove(os.path.join(snap_dir, name))
                removed += 1
    return removed


def snapshots(work_dir: str, stage: str) -> list:
    """All committed snapshots of a stage, oldest first."""
    snap_dir = os.path.join(work_dir, SNAPSHOT_DIR)
    if not os.path.isdir(snap_dir):
        return []
    out = []
    for name in os.listdir(snap_dir):
        if name.startswith(f"{stage}-v") and name.endswith(".json"):
            with open(os.path.join(snap_dir, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda s: s["version"])


def read_snapshot(spark: SparkSession, work_dir: str, stage: str,
                  version: int | None = None) -> DataFrame:
    """Read a stage table AS OF a snapshot version (default: latest).

    Only files in the snapshot's manifest are read: uncommitted orphans
    from crashed writers never appear, and any older version stays
    reproducible after later appends."""
    snaps = snapshots(work_dir, stage)
    if not snaps:
        raise ValueError(f"no snapshots committed for stage {stage!r}")
    if version is None:
        snap = snaps[-1]
    else:
        matches = [s for s in snaps if s["version"] == version]
        if not matches:
            raise ValueError(
                f"stage {stage!r} has no snapshot v{version}; "
                f"available: {[s['version'] for s in snaps]}"
            )
        snap = matches[0]
    table_path = os.path.join(work_dir, stage)
    paths = [os.path.join(table_path, f) for f in snap["manifest"]]
    return spark.read.parquet(*paths).drop("_part_id", "_run_id")
