"""reset / cleanup / sample utilities (§2.0 framework completeness)."""

import os

from origami_spark.pipeline import extract_staged
from origami_spark.plans.runner import (
    cleanup_incomplete,
    reset_stages,
    sample_stage,
)
from origami_spark.sources.corpus import pages_df


def test_reset_and_recompute(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 40, num_partitions=4).cache()
    out1 = extract_staged(spark, pages, wd)
    assert out1.count() == 40
    removed = reset_stages(wd, ["s8_compose", "not_a_stage"])
    assert removed == ["s8_compose"]
    assert not os.path.exists(f"{wd}/s8_compose")
    # rerun recomputes only the reset stage (upstream still committed)
    out2 = extract_staged(spark, pages, wd)
    assert out2.count() == 40


def test_cleanup_incomplete(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pages = pages_df(spark, 20, num_partitions=2)
    extract_staged(spark, pages, wd)
    # simulate a crashed writer: stage dir without the _SUCCESS marker
    os.makedirs(f"{wd}/s9_broken")
    with open(f"{wd}/s9_broken/part-0000.parquet", "w") as f:
        f.write("partial")
    removed = cleanup_incomplete(wd)
    assert removed == ["s9_broken"]
    assert os.path.exists(f"{wd}/s8_compose")  # committed stages untouched


def test_sample_stage_deterministic(spark, tmp_path):
    import pyspark.sql.functions as F

    from origami_spark.plans.runner import run_stage

    wd = str(tmp_path / "wd")
    df = spark.range(3000).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    run_stage(spark, "s", df, lambda d: d.repartition(4), wd, run_id="r1")
    a = {r["url"] for r in sample_stage(spark, wd, "s").collect()}
    b = {r["url"] for r in sample_stage(spark, wd, "s").collect()}
    assert a == b  # seeded => reproducible
    assert 0 < len(a) < 3000 * 0.02


def test_sample_stage_reads_only_committed_rows(spark, tmp_path):
    """After a compaction without expire/vacuum the stage directory holds both
    file generations, and a crashed writer's orphan sits beside them:
    the 1% sample still draws from the committed rows, each once.  A
    raw-directory read would sample every url at least twice over."""
    import shutil

    import pyspark.sql.functions as F

    from origami_spark.plans.runner import compact_stage, run_stage
    from origami_spark.plans.snapshots import _data_files, read_snapshot

    wd = str(tmp_path / "wd")
    df = spark.range(3000).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    run_stage(spark, "s", df, lambda d: d.repartition(3), wd, run_id="r1")
    compact_stage(spark, wd, "s")
    path = f"{wd}/s"
    shutil.copy(f"{path}/{_data_files(path)[0]}",
                f"{path}/part-99999-orphan.parquet")
    committed = sorted(r["url"] for r in read_snapshot(spark, wd, "s").collect())
    assert len(committed) == 3000
    sampled = [r["url"] for r in sample_stage(spark, wd, "s").collect()]
    assert 0 < len(sampled) == len(set(sampled)) < 3000 * 0.02
    assert set(sampled) <= set(committed)
