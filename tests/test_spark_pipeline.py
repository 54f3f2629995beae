"""The Spark engine end-to-end: byte-identical vs goldens, staged resume,
determinism across parallelism, plan shape."""

import json
import shutil

import pyspark.sql.functions as F
import pytest

from origami_spark.pipeline import extract, extract_staged
from origami_spark.sources.corpus import pages_df


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 300, num_partitions=8).cache()


def test_extract_byte_identical(spark, pages):
    out = extract(spark, pages)
    cmp = out.join(pages.select("url", F.col("text").alias("golden"), "spans_json"), "url")
    assert cmp.count() == 300
    assert cmp.filter("text != golden").count() == 0
    for r in cmp.select("spans", "spans_json").collect():
        got = [{"label": s["label"], "start": s["start"], "end": s["end"]}
               for s in r["spans"]]
        assert got == json.loads(r["spans_json"])


def test_empty_page_rows_present(spark, pages):
    out = extract(spark, pages)
    # every url present, even ones with zero surviving blocks
    assert out.select("url").distinct().count() == 300
    empties = out.filter("text = ''")
    for r in empties.select("spans").collect():
        assert r["spans"] == []


def test_staged_resume(spark, pages, tmp_path):
    wd = str(tmp_path / "stages")
    half = pages.limit(150)
    out1 = extract_staged(spark, half, wd, run_id="run1")
    assert out1.count() == 150
    out2 = extract_staged(spark, pages, wd, run_id="run2")
    assert out2.count() == 300
    assert out2.select("url").distinct().count() == 300
    # rerun: no duplicates (anti-join resume is a no-op)
    out3 = extract_staged(spark, pages, wd, run_id="run3")
    assert out3.count() == 300
    # byte-identity holds through the staged path too
    cmp = out3.join(pages.select("url", F.col("text").alias("golden")), "url")
    assert cmp.filter("text != golden").count() == 0
    # lineage rows exist for every stage
    lin = spark.read.parquet(f"{wd}/_lineage")
    stats = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stats == {"s2_blocks", "s5_layout", "s7_order", "s8_compose"}
    # per-run lineage counts THIS run's appends only: the incremental
    # second run composed exactly the 150 new urls, not the whole table
    per_run = {
        r["run_id"]: r["docs"]
        for r in lin.filter("stage = 's8_compose' AND status = 'COMPLETED'")
        .groupBy("run_id").agg(F.sum("doc_count").alias("docs")).collect()
    }
    assert per_run["run1"] == 150
    assert per_run["run2"] == 150
    assert "run3" not in per_run  # fully-resumed run commits nothing


def test_staged_artifacts(spark, pages, tmp_path):
    import os

    wd = str(tmp_path / "art")
    extract_staged(spark, pages.limit(60), wd, artifacts=True)
    for stage in ("s4_features", "s6_tables", "s6_lines", "s7_orders_map"):
        assert os.path.exists(f"{wd}/{stage}"), stage
        assert spark.read.parquet(f"{wd}/{stage}").count() > 0, stage
    lin = spark.read.parquet(f"{wd}/_lineage")
    stats = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"s4_features", "s6_tables", "s6_lines", "s7_orders_map"} <= stats


def test_parallelism_invariance(spark, pages):
    """Same input, different partitioning -> identical output set
    (digest stability across cluster sizes, BASELINE.md)."""
    a = extract(spark, pages, partitions=2)
    b = extract(spark, pages, partitions=16)
    ha = a.select(F.sha2(F.concat_ws("\x01", "url", "text"), 256).alias("h"))
    hb = b.select(F.sha2(F.concat_ws("\x01", "url", "text"), 256).alias("h"))
    assert ha.subtract(hb).count() == 0
    assert hb.subtract(ha).count() == 0


def test_compose_invariant_trips_on_missing_page(spark, pages):
    """Document.get analog (reference compose.py:451-466): a ranked
    block whose url is missing from the page universe must hard-error,
    not vanish silently."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from origami_spark.operators import compose as C, layout as L, order as O
    from origami_spark.pipeline import parse_stage

    some = pages.limit(50).cache()
    ranked = O.rank_blocks(L.refine(parse_stage(some))).cache()
    ranked.count()
    # corrupt the universe: drop one url that has ranked blocks
    victim = ranked.select("url").first()["url"]
    broken_universe = some.filter(F.col("url") != victim)
    # collect materializes the text column (a bare count() never
    # evaluates projections, so it cannot trip any column-level check)
    with pytest.raises(SparkRuntimeException, match="compose invariant"):
        C.compose(ranked, broken_universe).collect()
    # the same frame composes fine against the full universe
    assert len(C.compose(ranked, some).collect()) == 50


def test_no_python_udf_after_parse(spark, pages):
    """Everything after the parse kernel must be JVM-side: the composed
    plan contains exactly one Python evaluation node chain (mapInPandas
    of parse + corpus generation), no BatchEvalPython (per-row UDFs)."""
    out = extract(spark, pages_df(spark, 10))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
