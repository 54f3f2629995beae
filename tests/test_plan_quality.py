"""Physical-plan assertions: the plans Catalyst actually picks.

The scale contract (SURVEY.md §4) is not just "right answers" but
"right plans": small dims broadcast, filters reach the parquet scan,
column pruning works, the relational chain reuses one url partitioning,
and nothing after the parse kernel runs in Python."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as E
from origami_spark.pipeline import extract
from origami_spark.sources.corpus import pages_df

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q03_broadcasts_dimensions(spark):
    plan = plan_of(E.queries()["q03_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the two big tables join however AQE prefers, but nation/region/
    # customer must never be shuffled: at most one sort-merge join
    assert plan.count("SortMergeJoin") <= 1


def test_q01_filter_pushed_to_scan(spark):
    plan = plan_of(E.queries()["q01_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_column_pruning(spark):
    plan = plan_of(E.queries()["q01_pricing_summary"](spark, SF))
    # scan must read only the 6 needed columns, not all 11
    scan_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in scan_schema
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_tax"):
        assert col not in scan_schema, scan_schema


def test_q04_uses_hash_anti_join(spark):
    plan = plan_of(E.queries()["q04_anti_join"](spark, SF))
    assert "LeftAnti" in plan


@pytest.fixture(scope="module")
def parquet_pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "pages")
    pages_df(spark, 30).write.parquet(path)
    return spark.read.parquet(path)


def test_extract_single_python_stage(spark, parquet_pages):
    plan = plan_of(extract(spark, parquet_pages))
    # with a storage-backed source, exactly ONE Python node exists (the
    # parse kernel); everything downstream is JVM.  The compose stage's
    # second read of pages prunes to the url column (no html re-read).
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    url_only_scans = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if seg.startswith("struct<url:string>")
    ]
    assert url_only_scans, "compose's url-universe scan must prune to url"


def test_extract_relational_chain_reuses_partitioning(spark, parquet_pages):
    plan = plan_of(extract(spark, parquet_pages))
    # exchanges: explicit repartition before the kernel, ONE
    # hashpartitioning(url) for all windows/groupBys, and the final
    # join's pages side (the compose invariant rides the same
    # full-outer join — zero extra exchanges).  Anything >4 means a rule
    # broke co-partitioning (e.g. a groupBy key stopped including url).
    assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_ann_topk_broadcasts_queries(spark):
    plan = plan_of(E.queries()["ann_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_per_row_python_in_any_query(spark):
    """Blanket ban across the WHOLE driver surface: no queries() entry
    may contain a per-row Python UDF node.  mapInPandas (Arrow batch)
    kernels are the only sanctioned Python."""
    for name, fn in E.queries().items():
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan or name in (
            # pandas_udf-backed LSH/IVF signatures are Arrow-batched
            # (the sanctioned kind), not per-row
            "dedup_embedding_lsh", "ann_lsh_topk", "ann_ivf_topk",
            "dedup_semantic", "ann_ivfpq_topk",
            "dedup_embedding_contamination",
            # cluster_assign is the same Arrow argmin kernel as the
            # IVF family above
            "sample_cluster_balanced",
        ), name


def test_ivf_assignment_is_exchange_free(spark):
    """VERDICT r3 item 1: IVF serving must not shuffle or sort the
    corpus to assign clusters.  Two assertions: (a) the assignment
    subtree alone (scan -> Arrow argmin kernel) contains no Exchange
    and no Sort; (b) the full served query never hash-partitions by
    vec_id (the old crossJoin+window form exchanged and sorted n*k
    rows on vec_id to compute a per-row argmin)."""
    import numpy as np

    from origami_spark.operators.similarity import assign_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cmat = np.asarray(
        [[(i * 17 + d) % 7 / 7.0 for d in range(64)] for i in range(16)])
    csq = (cmat * cmat).sum(axis=1)
    sub = plan_of(assign_ivf(e, cmat, csq, list(range(16))))
    assert "Exchange" not in sub, sub
    assert "Sort" not in sub, sub
    assert "ArrowEvalPython" in sub

    full = plan_of(E.queries()["ann_ivf_topk"](spark, SF))
    assert "hashpartitioning(vec_id" not in full, full


def test_dedup_substring_plan_shape(spark):
    """Winnowing dedup: the fingerprint relation is computed once and
    cached (both pair-join sides + the max_df branch read the cache),
    and nothing runs as per-row Python."""
    plan = plan_of(E.queries()["dedup_substring"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_two_exchanges(spark):
    """Corpus-wide paragraph dedup is exactly two shuffles: the shared
    window partition on (hash, para) and the regroup by doc_id — no
    self-join, no cartesian, no Python."""
    from origami_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_contamination_broadcasts_benchmarks(spark):
    """The benchmark gram side must broadcast — the training corpus
    never shuffles for the collision join."""
    plan = plan_of(E.queries()["dedup_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan


def test_dsir_score_single_corpus_exchange(spark):
    """DSIR scoring (the classifier plan contract): the dense model
    joins BROADCAST against the feature explode, so the only real
    exchange on the corpus side is the per-doc integer groupBy."""
    from origami_spark.operators.dsir import dsir_score, dsir_train

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    model = dsir_train(target, docs)
    plan = plan_of(dsir_score(docs, model))
    assert "BroadcastHashJoin" in plan, plan
    # corpus-side shuffles: the groupBy's partial+final pair counts as
    # ONE hash exchange; broadcast exchanges are the model/consts
    hash_ex = plan.count("Exchange hashpartitioning")
    assert hash_ex == 1, f"{hash_ex} hash exchanges\n{plan}"
    assert "BatchEvalPython" not in plan


def test_dsir_topk_prunes_before_window(spark):
    """The decomposed top-k must (a) never sort the corpus globally —
    every row_number window is partitioned by the weight bin — and
    (b) carry the prefix < k prune so non-candidate bins drop before
    the per-bin windows run."""
    from origami_spark.operators.dsir import (dsir_score, dsir_topk,
                                              dsir_train)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    scored = dsir_score(docs, dsir_train(target, docs))
    df = dsir_topk(scored, 5)
    plan = plan_of(df)
    import re

    # every row_number window is partitioned by the weight bin _g —
    # no global corpus sort exists anywhere in the plan
    rn = re.findall(r"row_number\(\) windowspecdefinition\((\w+)#", plan)
    assert rn and all(c == "_g" for c in rn), (rn, plan)
    # the only unpartitioned window is the <= #bins prefix aggregate
    assert "sum(gn" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the prune predicate (prefix < k, physically the pre-alias
    # running-sum-minus-group expression) survives into the plan
    assert re.search(r"\(\(_we\d+#\d+L - gn#\d+L\) < 5\)", plan) \
        or re.search(r"prefix#\d+L < 5", plan), plan


def test_capped_minhash_job_count(spark):
    """A capped, verified ``minhash_lsh_candidates`` over ~1,000 docs
    builds, verifies and dedupes its pairs in one in-task kernel: 6
    Spark jobs on the test session, where the relational pair path ran 16
    for the same 48 pairs.  A plan change that slips back to the
    relational path fails here."""
    from origami_spark.operators.dedup import minhash_lsh_candidates
    from origami_spark.operators.text import portable_hash60
    from origami_spark.session import cache_scope, checkpoint

    sc = spark.sparkContext
    with cache_scope():
        pages = pages_df(spark, 1000).select(
            portable_hash60(F.col("url")).alias("doc_id"), "text")
        # exact copies under new ids: clusters for the kernel to pair
        docs = checkpoint(pages.unionByName(pages.limit(50).select(
            (F.col("doc_id") + 1).alias("doc_id"), "text")))
        sc.setJobGroup("capped-minhash", "job-count probe")
        try:
            pairs = minhash_lsh_candidates(
                docs, min_sig_agreement=0.5, max_bucket=128).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("capped-minhash")
    assert len(pairs) >= 40
    assert len(jobs) <= 6, sorted(jobs)
