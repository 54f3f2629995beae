"""Bucketed stage tables: the write-once-shuffle-never contract,
asserted on the physical plan."""

import pyspark.sql.functions as F


def test_staged_pipeline_bucketed_stages(spark, tmp_path):
    """extract_staged(buckets=N) writes every stage table co-located on
    url: output matches the plain staged run byte-for-byte, the stage
    tables are genuinely bucketed (a url-window over one plans with NO
    Exchange), and resume still appends correctly."""
    from origami_spark.pipeline import extract_staged
    from origami_spark.plans.runner import _stage_table_name
    from origami_spark.sources.corpus import pages_df
    from pyspark.sql import Window

    pages = pages_df(spark, 40, num_partitions=2).cache()
    wd_b = str(tmp_path / "bucketed")
    wd_p = str(tmp_path / "plain")
    out_b = extract_staged(spark, pages, wd_b, run_id="r1", buckets=8)
    out_p = extract_staged(spark, pages, wd_p, run_id="r1")
    a = {(r["url"], r["text"]) for r in out_b.select("url", "text").collect()}
    b = {(r["url"], r["text"]) for r in out_p.select("url", "text").collect()}
    assert a == b and len(a) == 40

    # the committed stage table exposes its bucket layout: a window
    # partitioned on url (exactly what s5/s7 compute) needs no Exchange
    tbl = spark.table(_stage_table_name(wd_b, "s5_layout"))
    w = Window.partitionBy("url").orderBy("seq")
    plan = (
        tbl.withColumn("rn", F.row_number().over(w))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan

    # resume: 20 more pages append into the same bucketed tables
    more = pages_df(spark, 60, num_partitions=2)
    out2 = extract_staged(spark, more, wd_b, run_id="r2", buckets=8)
    assert out2.count() == 60
    texts = {r["url"]: r["text"] for r in out2.collect()}
    golden = {r["url"]: r["text"]
              for r in more.select("url", "text").collect()}
    assert texts == golden


def test_bucketed_stage_orphans_fall_back_to_manifest(spark, tmp_path):
    """If a crashed writer leaves an orphan file in a bucketed stage
    dir, the committed view must NOT use the catalog table (which lists
    the whole directory) — it falls back to the manifest file list."""
    import os
    import shutil

    from origami_spark.pipeline import extract_staged
    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 20, num_partitions=1).cache()
    wd = str(tmp_path / "wd")
    extract_staged(spark, pages, wd, run_id="r1", buckets=4)

    table = f"{wd}/s8_compose"
    part = next(f for f in os.listdir(table) if f.endswith(".parquet"))
    shutil.copy(f"{table}/{part}", f"{table}/part-99999-orphan.parquet")

    out = extract_staged(spark, pages, wd, run_id="r2", buckets=4)
    assert out.count() == 20  # orphan rows invisible


def test_bucketed_stage_removes_refine_exchange(spark, tmp_path):
    """The S5 build (layout.refine: windows on url) over a bucketed
    s2_blocks table plans strictly fewer Exchanges than over the plain
    manifest read — the per-stage shuffle is gone."""
    from origami_spark.operators.layout import refine
    from origami_spark.pipeline import extract_staged
    from origami_spark.plans.runner import _stage_table_name
    from origami_spark.plans.snapshots import read_snapshot
    from origami_spark.sources.corpus import pages_df

    pages = pages_df(spark, 30, num_partitions=2).cache()
    wd = str(tmp_path / "wd")
    extract_staged(spark, pages, wd, run_id="r1", buckets=8)

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    bucketed_src = spark.table(_stage_table_name(wd, "s2_blocks")).drop(
        "_part_id", "_run_id")
    plain_src = read_snapshot(spark, wd, "s2_blocks")
    nb, np_ = n_exchanges(refine(bucketed_src)), n_exchanges(refine(plain_src))
    assert nb < np_, (nb, np_)
    assert nb == 0, nb


def test_bucketed_resume_in_fresh_driver_keeps_data(spark, tmp_path):
    """A NEW driver (empty session catalog) resuming a bucketed staged
    run must never lose committed rows: saveAsTable('append') without a
    catalog entry would CREATE-and-wipe; the runner re-registers the
    external bucketed table over the existing location instead."""
    from origami_spark.pipeline import extract_staged
    from origami_spark.plans.runner import _stage_table_name
    from origami_spark.sources.corpus import pages_df

    wd = str(tmp_path / "wd")
    pages1 = pages_df(spark, 20, num_partitions=2).cache()
    extract_staged(spark, pages1, wd, run_id="r1", buckets=4)
    # simulate a fresh driver: the in-memory catalog forgets the tables
    for stage in ("s2_blocks", "s5_layout", "s7_order", "s8_compose"):
        spark.sql(f"DROP TABLE IF EXISTS {_stage_table_name(wd, stage)}")

    pages2 = pages_df(spark, 50, num_partitions=2).cache()  # 30 new urls
    out = extract_staged(spark, pages2, wd, run_id="r2", buckets=4)
    assert out.count() == 50
    golden = {r["url"]: r["text"]
              for r in pages2.select("url", "text").collect()}
    for r in out.select("url", "text").collect():
        assert r["text"] == golden[r["url"]], r["url"]


def test_buckets_added_to_plain_workdir_downgrades_safely(spark, tmp_path):
    """Turning --buckets on over a work dir whose stages were written
    plain must not corrupt anything: the write downgrades to plain
    parquet for those stages (mixed bucket layouts would lie to the
    planner) and every row stays correct."""
    from origami_spark.pipeline import extract_staged
    from origami_spark.sources.corpus import pages_df

    wd = str(tmp_path / "wd")
    pages1 = pages_df(spark, 15, num_partitions=1).cache()
    extract_staged(spark, pages1, wd, run_id="r1")  # plain
    pages2 = pages_df(spark, 40, num_partitions=1).cache()
    out = extract_staged(spark, pages2, wd, run_id="r2", buckets=4)
    assert out.count() == 40
    golden = {r["url"]: r["text"]
              for r in pages2.select("url", "text").collect()}
    for r in out.select("url", "text").collect():
        assert r["text"] == golden[r["url"]], r["url"]


def test_bucket_count_is_recorded_and_wins_on_resume(spark, tmp_path):
    """Resuming a bucketed work dir with a DIFFERENT --buckets value
    must not register wrong bucket metadata over existing files: the
    recorded spec wins, results stay correct, and reset clears it."""
    from origami_spark.pipeline import extract_staged
    from origami_spark.plans.runner import (
        _recorded_bucket_spec,
        _stage_table_name,
        reset_stages,
    )
    from origami_spark.sources.corpus import pages_df

    wd = str(tmp_path / "wd")
    pages1 = pages_df(spark, 15, num_partitions=1).cache()
    extract_staged(spark, pages1, wd, run_id="r1", buckets=4)
    assert _recorded_bucket_spec(wd, "s2_blocks")["buckets"] == 4

    # fresh-driver resume asking for 8: recorded 4 wins
    for stage in ("s2_blocks", "s5_layout", "s7_order", "s8_compose"):
        spark.sql(f"DROP TABLE IF EXISTS {_stage_table_name(wd, stage)}")
    pages2 = pages_df(spark, 35, num_partitions=1).cache()
    out = extract_staged(spark, pages2, wd, run_id="r2", buckets=8)
    assert out.count() == 35
    golden = {r["url"]: r["text"]
              for r in pages2.select("url", "text").collect()}
    for r in out.select("url", "text").collect():
        assert r["text"] == golden[r["url"]], r["url"]
    assert _recorded_bucket_spec(wd, "s2_blocks")["buckets"] == 4

    # reset clears the spec so a rewrite may choose a new count
    reset_stages(wd, ["s2_blocks"], spark=spark)
    assert _recorded_bucket_spec(wd, "s2_blocks") is None


def test_lost_spec_refuses_reregistration(spark, tmp_path):
    """When BOTH the catalog entry and the recorded bucket spec are
    gone but bucket-suffixed files survive, NO count may be registered
    over them (the silent-join-loss hazard, ADVICE r3): the files'
    bucket-id suffixes are only a lower bound on the count they were
    hashed with (a mod-16 table whose keys occupy ids 0..7 looks like a
    mod-8 table), so even the true count is refused and the write
    downgrades to plain — correct reads via the manifest, layout lost,
    reset to re-bucket."""
    import os

    import pyspark.sql.functions as F

    from origami_spark.plans.runner import (
        _bucket_meta_path,
        _prepare_bucketed_write,
        _recorded_bucket_spec,
        _stage_table_name,
    )

    wd = str(tmp_path / "wd")
    name = "s_test"
    tbl = _stage_table_name(wd, name)
    df = spark.range(200).select(
        F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("url"),
        F.lit("t").alias("text"))
    (df.write.bucketBy(4, "url").sortBy("url")
        .option("path", os.path.join(wd, name)).saveAsTable(tbl))
    # catastrophic amnesia: fresh driver AND the spec file is gone
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert not os.path.exists(_bucket_meta_path(wd, name))

    # neither a wrong count NOR the true one is provable from files —
    # both refuse (downgrade to plain), nothing registered or recorded
    for requested in (8, 4):
        assert _prepare_bucketed_write(
            spark, wd, name, df, "url", requested) is None, requested
        assert not spark.catalog.tableExists(tbl)
        assert _recorded_bucket_spec(wd, name) is None


def test_bucketed_stage_stays_bucketed_when_flag_omitted(spark, tmp_path):
    """A buckets=N -> buckets=None -> buckets=N sequence in one session
    must never interleave plain part files under the catalog's bucket
    metadata: the recorded spec keeps the stage bucketed on the
    flag-less run, results stay byte-correct, and the committed view is
    still servable as a catalog bucketed table."""
    from origami_spark.pipeline import extract_staged
    from origami_spark.plans.runner import (
        _dir_is_bucketed,
        _recorded_bucket_spec,
    )
    from origami_spark.sources.corpus import pages_df

    wd = str(tmp_path / "wd")
    p1 = pages_df(spark, 10, num_partitions=1).cache()
    extract_staged(spark, p1, wd, run_id="r1", buckets=4)

    p2 = pages_df(spark, 25, num_partitions=1).cache()
    extract_staged(spark, p2, wd, run_id="r2")  # no buckets flag

    p3 = pages_df(spark, 40, num_partitions=1).cache()
    out = extract_staged(spark, p3, wd, run_id="r3", buckets=4)
    assert out.count() == 40
    golden = {r["url"]: r["text"] for r in p3.select("url", "text").collect()}
    for r in out.select("url", "text").collect():
        assert r["text"] == golden[r["url"]], r["url"]
    # every file in every stage dir is still bucket-named
    import os

    for stage in ("s2_blocks", "s5_layout", "s7_order", "s8_compose"):
        assert _dir_is_bucketed(os.path.join(wd, stage)), stage
        assert _recorded_bucket_spec(wd, stage)["buckets"] == 4


def test_bucketed_resume_with_different_key_raises(spark, tmp_path):
    """Re-registering bucket metadata CLUSTERED BY a different column
    than the files were hashed with would elide unjustified exchanges —
    the recorded spec's key must be enforced loudly."""
    import pytest

    from origami_spark.plans.runner import run_stage

    wd = str(tmp_path / "wd")
    df = spark.range(20).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").alias("doc_id"))
    run_stage(spark, "s_toy", df, lambda d: d, wd, key="url",
              run_id="r1", buckets=2)
    more = spark.range(40).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="bucketed by 'url'"):
        run_stage(spark, "s_toy", more, lambda d: d, wd, key="doc_id",
                  run_id="r2", buckets=2)
