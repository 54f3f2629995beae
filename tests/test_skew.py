"""Skew handling: Zipf-skewed hosts must not gang up in partitions
(SURVEY.md §4 — the custom skew requirement of the north rule)."""

import pyspark.sql.functions as F

from origami_spark.sources.corpus import pages_df


def test_corpus_hosts_are_zipf_skewed(spark):
    pages = pages_df(spark, 2000, num_partitions=8).cache()
    hosts = (
        pages.select(F.regexp_extract("url", "https://([^/]+)/", 1).alias("h"))
        .groupBy("h").count().orderBy(F.desc("count")).collect()
    )
    # the generator must actually produce a skewed host distribution,
    # or this test proves nothing
    assert hosts[0]["count"] > 4 * hosts[-1]["count"]


def test_url_hash_partitioning_neutralizes_host_skew(spark):
    pages = pages_df(spark, 2000, num_partitions=8)
    parts = (
        pages.repartition(16, "url")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) == 16
    mean = sum(counts) / len(counts)
    # urls are unique, so hash partitioning balances regardless of the
    # host skew above: no partition more than 35% off the mean
    assert max(counts) < 1.35 * mean, counts
    assert min(counts) > 0.65 * mean, counts


def _union_groups(pairs):
    """Tiny union-find over (a, b) edges -> frozenset of groups."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}


def test_minhash_hot_bucket_star_cap_bounds_pairs(spark):
    """A boilerplate cluster of m identical docs lands in ONE band
    bucket; uncapped that is m(m-1)/2 candidate pairs.  max_bucket
    emits the star (m-1 edges) instead — the duplicate GROUP stays
    connected (same connected components as the exact form) while the
    pair count collapses from quadratic to linear."""
    from origami_spark.operators.dedup import minhash_lsh_candidates
    from origami_spark.session import cache_scope

    m = 120
    rows = [(i, "boilerplate cookie banner text repeated verbatim") for i in range(m)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i*7}")
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    with cache_scope():
        capped = minhash_lsh_candidates(docs, max_bucket=50).collect()
        exact = minhash_lsh_candidates(docs).collect()
    hot = [(r["doc_a"], r["doc_b"]) for r in capped
           if r["doc_a"] < m and r["doc_b"] < m]
    assert len(hot) == m - 1, len(hot)          # star, not quadratic
    assert len([r for r in exact if r["doc_a"] < m]) == m * (m - 1) // 2
    # connectivity identical: the keep-one consumer sees the same groups
    assert _union_groups((r["doc_a"], r["doc_b"]) for r in capped) == \
        _union_groups((r["doc_a"], r["doc_b"]) for r in exact)


def test_aqe_skew_split_fires_on_hot_band_bucket(spark):
    """The residual-skew story for the banding joins (VERDICT r3 item
    7): plant one mega bucket, lower the AQE skew thresholds to test
    scale, force the sort-merge path, and assert the executed adaptive
    plan actually split the skewed partition (skew=true on the join)."""
    from origami_spark.operators.dedup import minhash_lsh_candidates
    from origami_spark.session import cache_scope

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        rows = [(i, "the same hot boilerplate text everywhere") for i in range(3000)]
        rows += [(10_000 + i, f"unique filler {i} {i*13} {i*31}") for i in range(500)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        # the runtime skew split only shows in the FINAL adaptive plan,
        # which belongs to the DataFrame actually executed — run a
        # full-pipeline aggregation and read ITS plan (a limit() would
        # short-circuit the shuffle; a count() on `cand` would execute
        # a different QueryExecution)
        with cache_scope():
            agg = minhash_lsh_candidates(docs, max_bucket=None).groupBy().count()
            assert agg.collect()[0][0] == 3000 * 2999 // 2
            plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
