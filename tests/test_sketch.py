"""Sketch operators (operators/sketch.py) vs independent pure-Python
references.

Every sketch is integer / exact-IEEE arithmetic over the portable md5
hash, so agreement with the Python reference is EXACT equality (same
registers, same estimates), not approximate — the same standard the
graph/LM families are held to.  Accuracy bounds (KMV relative error,
CM overestimate-only, Bloom no-false-negative) are tested separately
as the sketch-theoretic contract."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from origami_spark.operators.sketch import (
    HASH_DOMAIN,
    bloom_build,
    bloom_probe,
    countmin_build,
    countmin_estimate,
    kmv_distinct,
)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- KMV

def _py_kmv(values, k):
    hs = sorted({_h60(str(v)) for v in values})[:k]
    if len(hs) < k:
        return len(hs), (hs[-1] if hs else None), len(hs)
    kth = hs[-1]
    est = math.floor(float(k - 1) * float(HASH_DOMAIN) / float(kth))
    return k, kth, est


@pytest.fixture(scope="module")
def words_df(spark):
    # 5000 distinct values, each duplicated a varying number of times
    rows = [(f"w{i % 5000}",) for i in range(12_000)]
    return spark.createDataFrame(rows, "v string")


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame([(f"x{i}",) for i in range(37)], "v string")
    row = kmv_distinct(df, "v").collect()[0]
    assert row["n_kept"] == 37
    assert row["est_distinct"] == 37


def test_kmv_matches_python_reference_exactly(spark, words_df):
    row = kmv_distinct(words_df, "v").collect()[0]
    n_kept, kth, est = _py_kmv([f"w{i}" for i in range(5000)], 256)
    assert (row["n_kept"], row["kth_hash"], row["est_distinct"]) == (
        n_kept, kth, est)


def test_kmv_relative_error_bound(spark, words_df):
    # KMV std error ~ 1/sqrt(k-1) = 6.3% at k=256; 20% is a >3-sigma
    # bound on a fixed (hash-deterministic, not random) instance.
    est = kmv_distinct(words_df, "v").collect()[0]["est_distinct"]
    assert abs(est - 5000) / 5000 < 0.20


def test_kmv_partition_independent(spark, words_df):
    a = kmv_distinct(words_df.repartition(7), "v", k=64).collect()[0]
    b = kmv_distinct(words_df.coalesce(1), "v", k=64).collect()[0]
    assert a.asDict() == b.asDict()


def test_kmv_grouped(spark):
    rows = [("a", f"x{i}") for i in range(10)] + [
        ("b", f"y{i % 3}") for i in range(9)]
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {r["grp"]: r["est_distinct"]
           for r in kmv_distinct(df, "v", k=16, by=["grp"]).collect()}
    assert got == {"a": 10, "b": 3}


# ---------------------------------------------------------- count-min

def _py_cm_build(items, width, depth):
    sk = {}
    for it in items:
        for r in range(depth):
            b = _h60(f"cm{r}|{it}") % width
            sk[(r, b)] = sk.get((r, b), 0) + 1
    return sk


def _py_cm_est(sk, item, width, depth):
    return min(sk.get((r, _h60(f"cm{r}|{item}") % width), 0)
               for r in range(depth))


@pytest.fixture(scope="module")
def zipf_items():
    # item f"t{i}" appears 200 // (i + 1) times: a heavy head
    out = []
    for i in range(400):
        out.extend([f"t{i}"] * max(200 // (i + 1), 1))
    return out


def test_countmin_matches_python_reference(spark, zipf_items):
    df = spark.createDataFrame([(v,) for v in zipf_items], "v string")
    sk = countmin_build(df, "v", width=128, depth=4)
    got = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert got == _py_cm_build(zipf_items, 128, 4)


def test_countmin_overestimates_only(spark, zipf_items):
    df = spark.createDataFrame([(v,) for v in zipf_items], "v string")
    sk = countmin_build(df, "v", width=128, depth=4)
    est = countmin_estimate(sk, df, "v", width=128, depth=4)
    true = {v: zipf_items.count(v) for v in set(zipf_items)}
    n = len(zipf_items)
    eps_bound = math.ceil(math.e / 128 * n)
    for r in est.collect():
        t = true[r["item"]]
        assert r["cm_est"] >= t, r["item"]
        assert r["cm_est"] <= t + eps_bound, r["item"]


def test_countmin_exact_when_wide(spark):
    items = [f"q{i}" for i in range(50)] * 3
    df = spark.createDataFrame([(v,) for v in items], "v string")
    sk = countmin_build(df, "v", width=4096, depth=4)
    est = countmin_estimate(sk, df, "v", width=4096, depth=4)
    assert all(r["cm_est"] == 3 for r in est.collect())


def test_kmv_merge_identity(spark, words_df):
    """kmv_merge over per-shard signatures is BIT-IDENTICAL to
    kmv_distinct over the concatenated input: any global k-minimum
    hash is its own shard's k-minimum hash, so no information is lost
    at the shard boundary.  This is the property that lets a crawl
    persist <= k-row signatures per shard and never re-scan."""
    from origami_spark.operators.sketch import kmv_build, kmv_merge

    sharded = words_df.withColumn(
        "_s", F.pmod(F.abs(F.hash("v")), F.lit(3)))
    sigs = [kmv_build(sharded.filter(F.col("_s") == i), "v", k=64)
            for i in range(3)]
    merged = kmv_merge(sigs, k=64).collect()
    whole = kmv_distinct(words_df, "v", k=64).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, whole))


def test_kmv_merge_grouped_identity(spark):
    """Same identity with a group key and a shard split that puts some
    groups entirely in one shard: shard a holds groups {g0, g1}, shard
    b holds {g1, g2}, so g0's signature is absent from b's relation
    and g2's from a's — the missing-signature merge path."""
    from origami_spark.operators.sketch import kmv_build, kmv_merge

    rows = [(f"g{i % 3}", f"v{i}") for i in range(900)]
    df = spark.createDataFrame(rows, "g string, v string")
    a = df.filter("g IN ('g0', 'g1')")
    b = df.filter("g IN ('g1', 'g2')")
    # g1 appears in both shards: drop duplicate values on one side so
    # the union is still exactly df's value set per group
    b = b.filter("g != 'g1' OR v >= 'v5'")
    a = a.filter("g != 'g1' OR v < 'v5'")
    sig_a = kmv_build(a, "v", k=32, by=["g"])
    sig_b = kmv_build(b, "v", k=32, by=["g"])
    assert sig_a.filter("g = 'g2'").count() == 0
    assert sig_b.filter("g = 'g0'").count() == 0
    merged = kmv_merge([sig_a, sig_b], k=32, by=["g"]).collect()
    whole = kmv_distinct(df, "v", k=32, by=["g"]).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, whole))


def test_countmin_weighted(spark):
    df = spark.createDataFrame([("a", 5), ("a", 2), ("b", 1)],
                               "v string, w int")
    sk = countmin_build(df, "v", width=512, depth=4, weight_col="w")
    est = {r["item"]: r["cm_est"] for r in countmin_estimate(
        sk, df, "v", width=512, depth=4).collect()}
    assert est == {"a": 7, "b": 1}


# -------------------------------------------------------------- bloom

def _py_bloom(keys, m, d):
    return {_h60(f"bf{i}|{k}") % m for k in keys for i in range(d)}


def test_bloom_positions_match_python(spark):
    keys = [f"k{i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "v string")
    got = {r["pos"] for r in bloom_build(df, "v", m=1024, d=5).collect()}
    assert got == _py_bloom(keys, 1024, 5)


def test_bloom_no_false_negatives(spark):
    keys = [f"k{i}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "v string")
    bloom = bloom_build(df, "v", m=4096, d=5)
    probed = bloom_probe(bloom, df, "v", m=4096, d=5)
    assert probed.count() == 500
    assert all(r["is_member"] == 1 for r in probed.collect())


def test_bloom_false_positive_rate(spark):
    ins = spark.createDataFrame([(f"in{i}",) for i in range(500)],
                                "v string")
    out = spark.createDataFrame([(f"out{i}",) for i in range(1000)],
                                "v string")
    bloom = bloom_build(ins, "v", m=8192, d=5)
    fp = sum(r["is_member"] for r in
             bloom_probe(bloom, out, "v", m=8192, d=5).collect())
    # theoretical rate (1 - e^{-dn/m})^d ~ 0.22% at n=500,m=8192,d=5;
    # allow 10x slack on this fixed instance
    assert fp / 1000 <= 0.022


def test_bloom_probe_is_broadcast(spark):
    ins = spark.createDataFrame([("a",), ("b",)], "v string")
    bloom = bloom_build(ins, "v", m=64, d=3)
    plan = bloom_probe(bloom, ins, "v", m=64, d=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_countmin_probe_is_broadcast(spark):
    df = spark.createDataFrame([("a",)], "v string")
    sk = countmin_build(df, "v", width=32, depth=2)
    plan = countmin_estimate(sk, df, "v", width=32, depth=2)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------- histogram sketch

def _hist_df(spark):
    # 1..1000 uniform, plus out-of-range strays that must clamp
    rows = [(float(i),) for i in range(1, 1001)] + [(-5.0,), (2000.0,)]
    return spark.createDataFrame(rows, "x double")


def test_hist_quantile_within_one_bin(spark):
    from origami_spark.operators.sketch import hist_build, hist_quantile

    h = hist_build(_hist_df(spark), "x", lo=0.0, hi=1000.0, bins=100)
    binw = 10.0
    for qn, qd, true in [(1, 2, 501.0), (9, 10, 901.0), (1, 100, 11.0)]:
        est = hist_quantile(h, qn, qd, lo=0.0, hi=1000.0,
                            bins=100).collect()[0]["est"]
        assert abs(est - true) <= binw + 1e-9, (qn, qd, est, true)


def test_hist_clamps_out_of_range(spark):
    from origami_spark.operators.sketch import hist_build

    h = {r["bin"]: r["cnt"] for r in hist_build(
        _hist_df(spark), "x", lo=0.0, hi=1000.0, bins=100).collect()}
    assert min(h) == 0 and max(h) == 99
    assert sum(h.values()) == 1002


def test_hist_grouped_quantiles(spark):
    from origami_spark.operators.sketch import hist_build, hist_quantile

    rows = [("a", float(i)) for i in range(1, 101)] + [
        ("b", float(i)) for i in range(900, 1001)]
    df = spark.createDataFrame(rows, "g string, x double")
    h = hist_build(df, "x", 0.0, 1000.0, 100, by=["g"])
    got = {r["g"]: r["est"] for r in hist_quantile(
        h, 1, 2, 0.0, 1000.0, 100, by=["g"]).collect()}
    assert abs(got["a"] - 50.0) <= 10 + 1e-9
    assert abs(got["b"] - 950.0) <= 10 + 1e-9


def test_kmv_set_ops_exact_below_k(spark):
    """With fewer than k distinct union hashes everything is exact:
    est_union = |A∪B|, n_both = est_intersection = |A∩B|, jaccard =
    the true Jaccard."""
    from origami_spark.operators.sketch import kmv_build, kmv_set_ops

    a_vals = [f"x{i}" for i in range(40)]          # 0..39
    b_vals = [f"x{i}" for i in range(30, 70)]      # 30..69, overlap 10
    mk = lambda vs: spark.createDataFrame([(v,) for v in vs], "v string")
    out = kmv_set_ops(kmv_build(mk(a_vals), "v", k=256),
                      kmv_build(mk(b_vals), "v", k=256)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_kept"] == 70 and r["est_union"] == 70
    assert r["n_both"] == 10 and r["est_intersection"] == 10
    assert abs(r["jaccard"] - 10 / 70) < 1e-12


def test_kmv_set_ops_estimates_within_bound(spark):
    """Sketch-sized signatures estimate a 5000/2500-overlap pair: the
    Jaccard and intersection estimates land within 3 standard errors
    of truth (k=256 -> se ~ sqrt(J(1-J)/k) for the Jaccard fraction)."""
    from origami_spark.operators.sketch import kmv_build, kmv_set_ops

    a_vals = [f"v{i}" for i in range(5000)]
    b_vals = [f"v{i}" for i in range(2500, 7500)]
    mk = lambda vs: spark.createDataFrame([(v,) for v in vs], "v string")
    r = kmv_set_ops(kmv_build(mk(a_vals), "v", k=256),
                    kmv_build(mk(b_vals), "v", k=256)).collect()[0]
    true_j = 2500 / 7500
    se = (true_j * (1 - true_j) / 256) ** 0.5
    assert abs(r["jaccard"] - true_j) < 3 * se
    assert abs(r["est_intersection"] - 2500) < 0.35 * 2500
    assert abs(r["est_union"] - 7500) < 0.25 * 7500


def test_kmv_set_ops_grouped_equivalence(spark):
    """kmv_set_ops_grouped over one grouped signature equals
    kmv_set_ops over the two per-side signatures (single-corpus-pass
    form vs two-relation form): within the union's k smallest hashes,
    membership in a side's top-k equals membership in the side."""
    from origami_spark.operators.sketch import (
        kmv_build,
        kmv_set_ops,
        kmv_set_ops_grouped,
    )

    rows = ([(0, f"v{i}") for i in range(3000)]
            + [(1, f"v{i}") for i in range(1500, 4500)]
            # a third side the pairwise estimate must IGNORE — its
            # hashes would deflate every estimate if they leaked into
            # the union top-k (regression: the side filter)
            + [(2, f"w{i}") for i in range(2000)])
    df = spark.createDataFrame(rows, "half int, v string")
    two = kmv_set_ops(
        kmv_build(df.filter("half = 0"), "v"),
        kmv_build(df.filter("half = 1"), "v")).collect()
    one = kmv_set_ops_grouped(
        kmv_build(df, "v", by=["half"]), "half", 0, 1).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, two))
