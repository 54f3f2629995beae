"""Snapshot layer: versioned commits, time travel, snapshot isolation."""

import os

from origami_spark.pipeline import extract_staged
from origami_spark.plans.snapshots import read_snapshot, snapshots
from origami_spark.sources.corpus import pages_df


def test_time_travel_across_incremental_runs(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 120, num_partitions=4).cache()
    extract_staged(spark, pages.limit(60), wd, run_id="r1")
    extract_staged(spark, pages, wd, run_id="r2")

    snaps = snapshots(wd, "s8_compose")
    assert [s["version"] for s in snaps] == [1, 2]
    assert [s["run_id"] for s in snaps] == ["r1", "r2"]
    # every version stays readable after later appends (time travel)
    v1 = read_snapshot(spark, wd, "s8_compose", version=1)
    v2 = read_snapshot(spark, wd, "s8_compose")  # latest
    assert v1.count() == 60
    assert v2.count() == 120
    # v1's urls are a strict subset of v2's
    assert v1.select("url").subtract(v2.select("url")).count() == 0
    # a fully-resumed rerun commits nothing: no new snapshot
    extract_staged(spark, pages, wd, run_id="r3")
    assert [s["version"] for s in snapshots(wd, "s8_compose")] == [1, 2]


def test_crash_between_append_and_commit_recovers(spark, tmp_path):
    """A writer that died AFTER the parquet append but BEFORE the
    snapshot commit must not lose those urls: the resume reads the
    committed view, recomputes the orphaned work, and the final
    snapshot view holds every url exactly once."""
    import os

    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 80, num_partitions=4).cache()
    extract_staged(spark, pages.limit(40), wd, run_id="r1")
    # simulate the crash for the SECOND run: let it run fully, then
    # delete its snapshot manifests (the append survived, the commit
    # did not) — byte-wise identical to dying in between
    extract_staged(spark, pages, wd, run_id="r2")
    snap_dir = f"{wd}/_snapshots"
    for f in os.listdir(snap_dir):
        if f.endswith("-v2.json"):
            os.remove(os.path.join(snap_dir, f))

    out = extract_staged(spark, pages, wd, run_id="r3")
    got = out.groupBy("url").count()
    assert out.count() == 80
    assert got.filter("count != 1").count() == 0  # exactly once
    # r3 recomputed exactly the orphaned 40 urls
    assert [s["run_id"] for s in snapshots(wd, "s8_compose")] == ["r1", "r3"]
    v_latest = read_snapshot(spark, wd, "s8_compose")
    assert v_latest.count() == 80
    # byte-identity survives the recovery
    import pyspark.sql.functions as F
    cmp = out.join(pages.select("url", F.col("text").alias("g")), "url")
    assert cmp.filter("text != g").count() == 0


def test_crash_on_first_run_recomputes_everything(spark, tmp_path):
    """First run dies post-append/pre-commit (table dir exists, zero
    snapshots): the rerun must treat the whole directory as uncommitted
    and deliver every url exactly once in the committed view."""
    import os

    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 30, num_partitions=2).cache()
    extract_staged(spark, pages, wd, run_id="r1")
    snap_dir = f"{wd}/_snapshots"
    for f in list(os.listdir(snap_dir)):  # erase ALL commits = v1 crash
        os.remove(os.path.join(snap_dir, f))

    out = extract_staged(spark, pages, wd, run_id="r2")
    assert out.count() == 30
    assert out.groupBy("url").count().filter("count != 1").count() == 0
    assert [s["run_id"] for s in snapshots(wd, "s8_compose")] == ["r2"]
    # the crashed run's orphan files linger in the raw dir; snapshot
    # readers never see them
    assert spark.read.parquet(f"{wd}/s8_compose").count() == 60
    assert read_snapshot(spark, wd, "s8_compose").count() == 30


def test_retry_with_same_run_id_keeps_lineage_honest(spark, tmp_path):
    """A scheduler retrying a crashed first run with the SAME run_id
    must not double doc_count: lineage aggregates exactly the files the
    snapshot commit added, not a run_id filter over the raw dir."""
    import os

    import pyspark.sql.functions as F

    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 30, num_partitions=2).cache()
    extract_staged(spark, pages, wd, run_id="r1")
    snap_dir = f"{wd}/_snapshots"
    for f in list(os.listdir(snap_dir)):  # crash before any commit
        os.remove(os.path.join(snap_dir, f))
    extract_staged(spark, pages, wd, run_id="r1")  # retry, SAME id

    lin = spark.read.parquet(f"{wd}/_lineage")
    docs = (
        lin.filter("stage = 's8_compose' AND status = 'COMPLETED'")
        .groupBy("run_id").agg(F.sum("doc_count").alias("docs"))
        .collect()
    )
    # two completed r1 attempts wrote two lineage batches of 30 each;
    # neither is polluted by the other's orphan files
    assert all(r["docs"] == 30 for r in docs for _ in [r]) or \
        sum(r["docs"] for r in docs) == 60


def test_empty_source_stage_commits_cleanly(spark, tmp_path):
    """A stage over an empty source returns an empty frame (with the
    right schema) instead of crashing on an empty snapshot manifest."""
    out = extract_staged(
        spark,
        pages_df(spark, 5, num_partitions=1).filter("url = 'nope'"),
        str(tmp_path / "wd"),
        run_id="r1",
    )
    assert out.count() == 0
    assert "url" in out.columns and "text" in out.columns


def test_reset_removes_stale_snapshots(spark, tmp_path):
    """A stage reset drops the stage's manifests with the table (stale
    manifests would reference deleted files forever); the next run
    recomputes it from scratch as version 1."""
    import shutil

    from origami_spark.plans.snapshots import delete_snapshots

    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 30, num_partitions=2).cache()
    extract_staged(spark, pages, wd, run_id="r1")
    shutil.rmtree(f"{wd}/s8_compose")
    delete_snapshots(wd, "s8_compose")
    assert snapshots(wd, "s8_compose") == []
    out = extract_staged(spark, pages, wd, run_id="r2")
    assert out.count() == 30
    assert [s["version"] for s in snapshots(wd, "s8_compose")] == [1]
    assert read_snapshot(spark, wd, "s8_compose").count() == 30


def test_snapshot_isolation_hides_orphan_files(spark, tmp_path):
    """Files a crashed writer left behind are invisible to snapshot
    readers (the raw directory read would pick them up)."""
    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 40, num_partitions=2).cache()
    extract_staged(spark, pages, wd, run_id="r1")
    committed = read_snapshot(spark, wd, "s8_compose").count()
    assert committed == 40

    # simulate a crashed writer: copy a committed part file in as an
    # orphan (valid parquet, never snapshot-committed)
    table = f"{wd}/s8_compose"
    part = next(f for f in os.listdir(table) if f.endswith(".parquet"))
    import shutil
    shutil.copy(f"{table}/{part}", f"{table}/part-99999-orphan.parquet")

    dir_read = spark.read.parquet(table).count()
    snap_read = read_snapshot(spark, wd, "s8_compose").count()
    assert dir_read > 40          # raw read sees the orphan
    assert snap_read == 40        # snapshot read does not


def test_snapshot_version_collision_raises(tmp_path):
    """Two writers racing on one stage must not silently clobber a
    committed snapshot: the second same-version commit raises and the
    existing history is untouched."""
    import json

    import pytest

    from origami_spark.plans.snapshots import commit_snapshot

    wd = str(tmp_path / "wd")
    table = tmp_path / "wd" / "s1"
    table.mkdir(parents=True)
    (table / "part-00000-a.parquet").write_bytes(b"")
    first = commit_snapshot(wd, "s1", "writer-A", [])
    assert first["version"] == 1

    # a zombie writer computed the same next version concurrently
    (table / "part-00001-b.parquet").write_bytes(b"")
    with pytest.raises(RuntimeError, match="collision"):
        # simulate: it read the catalog BEFORE writer-A committed, so it
        # also targets v1 — emulate by removing A's file list knowledge
        import origami_spark.plans.snapshots as S

        orig = S.snapshots
        try:
            S.snapshots = lambda *a, **k: []  # zombie's stale catalog view
            commit_snapshot(wd, "s1", "writer-B", [])
        finally:
            S.snapshots = orig
    # writer-A's commit survived unmodified
    snap_file = tmp_path / "wd" / "_snapshots" / "s1-v1.json"
    assert json.loads(snap_file.read_text())["run_id"] == "writer-A"
    # and no tmp litter remains
    leftovers = [f for f in (tmp_path / "wd" / "_snapshots").iterdir()
                 if f.name.endswith(".tmp")]
    assert leftovers == []


def test_out_of_band_table_removal_recovers(spark, tmp_path):
    """If the stage DIRECTORY is removed while _snapshots/ survives,
    the next run must treat the manifests as stale and recompute —
    extending them would reference deleted files forever."""
    import shutil

    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 20, num_partitions=2).cache()
    extract_staged(spark, pages, wd, run_id="r1")
    shutil.rmtree(f"{wd}/s8_compose")  # out-of-band: manifests survive

    out = extract_staged(spark, pages, wd, run_id="r2")
    assert out.count() == 20
    # fresh history: one snapshot, readable, all rows present
    assert [s["version"] for s in snapshots(wd, "s8_compose")] == [1]
    assert read_snapshot(spark, wd, "s8_compose").count() == 20


def test_commit_without_hardlink_support(tmp_path, monkeypatch):
    """Filesystems without hard links fall back to O_CREAT|O_EXCL:
    commits still succeed and collisions still raise."""
    import os as _os

    import pytest

    import origami_spark.plans.snapshots as S

    def no_link(src, dst):
        raise OSError(38, "Function not implemented")

    monkeypatch.setattr(S.os, "link", no_link)
    wd = str(tmp_path / "wd")
    table = tmp_path / "wd" / "s1"
    table.mkdir(parents=True)
    (table / "part-00000-a.parquet").write_bytes(b"")
    snap = S.commit_snapshot(wd, "s1", "w1", [])
    assert snap["version"] == 1
    assert S.snapshots(wd, "s1")[0]["run_id"] == "w1"
    # collision still raises through the fallback
    (table / "part-00001-b.parquet").write_bytes(b"")
    orig = S.snapshots
    try:
        S.snapshots = lambda *a, **k: []
        with pytest.raises(RuntimeError, match="collision"):
            S.commit_snapshot(wd, "s1", "w2", [])
    finally:
        S.snapshots = orig


def test_bucketed_workdir_from_older_engine_resumes_plain(spark, tmp_path):
    """A stage that an older engine wrote bucketed (part files with a
    bucket-id suffix, a leftover ``_snapshots/<stage>-buckets.json``)
    resumes like any other: run_stage reads every committed row through
    the manifest and appends only the new urls, as plain part files."""
    import json
    import re

    import pyspark.sql.functions as F

    from origami_spark.plans.runner import run_stage
    from origami_spark.plans.snapshots import (
        SNAPSHOT_DIR,
        _data_files,
        commit_snapshot,
    )

    wd = str(tmp_path / "wd")
    path = os.path.join(wd, "s")
    mk = lambda hi: spark.range(hi).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").alias("v"))
    tbl = "old_bucketed_stage"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        (mk(20).withColumn("_part_id", F.spark_partition_id())
            .withColumn("_run_id", F.lit("r1"))
            .write.bucketBy(4, "url").sortBy("url")
            .option("path", path).format("parquet").saveAsTable(tbl))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # external: files stay
    bucket_file = re.compile(r"_\d{5}\.")
    old = _data_files(path)
    assert old and all(bucket_file.search(f) for f in old)
    commit_snapshot(wd, "s", "r1", before_files=[])
    with open(os.path.join(wd, SNAPSHOT_DIR, "s-buckets.json"), "w") as f:
        json.dump({"buckets": 4, "key": "url"}, f)

    out = run_stage(spark, "s", mk(50), lambda d: d, wd, run_id="r2")
    got = sorted((r["url"], r["v"]) for r in out.collect())
    assert got == sorted((f"u{i}", i) for i in range(50))
    head = snapshots(wd, "s")[-1]
    assert head["version"] == 2 and set(old) <= set(head["manifest"])
    assert head["added"] and not any(
        bucket_file.search(f) for f in head["added"])
    added = spark.read.parquet(*[os.path.join(path, f) for f in head["added"]])
    assert sorted(r["url"] for r in added.collect()) == sorted(
        f"u{i}" for i in range(20, 50))
