"""ANN operators: exact vs LSH top-k recall, determinism of the
hyperplane signatures."""

import pyspark.sql.functions as F

from origami_spark.operators.similarity import (
    cosine_topk,
    hyperplane_buckets,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"
QUERIES = list(range(8))
K = 5


def test_lsh_topk_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, QUERIES, k=K).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(emb, QUERIES, k=K, planes=4, tables=16).collect()
    }
    assert exact, "exact top-k must be non-empty"
    recall = len(exact & approx) / len(exact)
    # weak-neighbour corpus (true top-5 at cos ~0.3 -> per-plane
    # agreement ~0.6): 4 planes x 16 tables lifts per-table recall
    # ~0.6^4~0.13 to 1-(1-0.13)^16 ~ 0.90+; measured 0.95 on this corpus
    # (single-table at 8 planes was ~0.03 — the round-1 weakness)
    assert recall >= 0.8, f"recall {recall:.2f} below floor"
    # every approximate hit must carry the exact cosine (re-rank inside
    # candidates is exact, not approximate)
    ex = {(r["query_id"], r["vec_id"]): r["cosine"]
          for r in cosine_topk(emb, QUERIES, k=200).collect()}
    for r in lsh_topk(emb, QUERIES, k=K, planes=4, tables=16).collect():
        key = (r["query_id"], r["vec_id"])
        if key in ex:
            assert abs(ex[key] - r["cosine"]) < 1e-9


def test_hyperplane_buckets_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = hyperplane_buckets(emb, planes=8, tables=4).select(
        "vec_id", F.col("buckets").cast("string").alias("b"))
    b = hyperplane_buckets(emb, planes=8, tables=4).select(
        "vec_id", F.col("buckets").cast("string").alias("b"))
    assert a.subtract(b).count() == 0
    assert b.subtract(a).count() == 0


def test_ivf_topk_recall_vs_exact(spark):
    """IVF serving over staged centroids (the oracle shape): scanning
    nprobe/n_clusters of the corpus still recovers most true
    neighbours, and never invents cosines."""
    from origami_spark.operators.similarity import (
        ivf_topk_served,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(emb, n_clusters=16, iters=5)
    rows = [
        (int(i), [float(v) for v in c],
         float(sum(float(v) * float(v) for v in c)))
        for i, c in enumerate(cents)
    ]
    cdf = spark.createDataFrame(
        rows, "cluster int, centroid array<double>, c_sq double")
    served = ivf_topk_served(emb, cdf, QUERIES, k=K, nprobe=6).collect()
    exact_k = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, QUERIES, k=K).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in served}
    recall = len(exact_k & got) / len(exact_k)
    assert recall >= 0.5, f"recall {recall:.2f} below floor"
    # cosines are exact (re-rank is not approximated)
    exact = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in cosine_topk(emb, QUERIES, k=300).collect()}
    for r in served:
        key = (r["query_id"], r["vec_id"])
        if key in exact:
            assert abs(exact[key] - r["cosine"]) < 1e-9


def test_ivf_served_matches_kernel_assignment(spark):
    """ivf_topk_served draws candidates exactly from the kernel
    assignment: every served neighbour sits in a cluster the query
    probes (per cluster_assign, the broadcast Arrow argmin), and each
    query is served min(k, probed-list size) neighbours."""
    from origami_spark.operators.similarity import (
        _probe_lists,
        cluster_assign,
        ivf_topk_served,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(emb, n_clusters=16, iters=5)
    rows = [
        (int(i), [float(v) for v in c],
         float(sum(float(v) * float(v) for v in c)))
        for i, c in enumerate(cents)
    ]
    cdf = spark.createDataFrame(
        rows, "cluster int, centroid array<double>, c_sq double")
    served = ivf_topk_served(emb, cdf, QUERIES, k=K, nprobe=6).collect()
    cluster_of = {r["vec_id"]: r["cluster"]
                  for r in cluster_assign(emb, cdf).collect()}
    q = emb.filter(F.col("vec_id").isin(QUERIES)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    probes: dict = {}
    for r in _probe_lists(q, cdf, 6).collect():
        probes.setdefault(r["query_id"], set()).add(r["cluster"])
    assert set(probes) == set(QUERIES)
    assert all(len(p) == 6 for p in probes.values())
    for r in served:
        assert cluster_of[r["vec_id"]] in probes[r["query_id"]], r
    for qid in QUERIES:
        listed = sum(1 for v, c in cluster_of.items()
                     if c in probes[qid] and v != qid)
        got = sum(1 for r in served if r["query_id"] == qid)
        assert got == min(K, listed), (qid, got, listed)


def test_ivf_served_kernel_equals_relational(spark):
    """The two formulations of ivf_topk_served are ONE function: the
    Arrow-argmin engine path (kernel) and the window-argmin oracle shape
    (relational) must return row-identical results over the same staged
    centroids — distances fold left-to-right in both, rounding at 6
    decimals and the lowest-cluster tie-break match bitwise."""
    from origami_spark.operators.similarity import (
        _ivf_topk_served_relational,
        ivf_topk_served,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(emb, n_clusters=16, iters=5)
    rows = [
        (int(i), [float(v) for v in c],
         float(sum(float(v) * float(v) for v in c)))
        for i, c in enumerate(cents)
    ]
    cdf = spark.createDataFrame(
        rows, "cluster int, centroid array<double>, c_sq double")
    kern = sorted(
        map(tuple, ivf_topk_served(emb, cdf, QUERIES, k=K,
                                   nprobe=6).collect()))
    rel = sorted(
        map(tuple, _ivf_topk_served_relational(emb, cdf, QUERIES, k=K,
                                               nprobe=6).collect()))
    assert kern == rel
    assert len(kern) == len(QUERIES) * K


def test_assign_ivf_matches_relational_argmin(spark):
    """Row-level assignment parity: the kernel's cluster column equals
    the relational rounded-dist argmin for EVERY corpus vector."""
    import numpy as np
    from pyspark.sql import Window

    from origami_spark.operators.similarity import (
        assign_ivf,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(emb, n_clusters=16, iters=3)
    cmat = np.asarray(cents, dtype=np.float64)
    csq = (cmat * cmat).sum(axis=1)
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_ivf(e, cmat, csq, list(range(len(cents)))).collect()
    }
    cdf = spark.createDataFrame(
        [(int(i), [float(v) for v in c], float(csq[i]))
         for i, c in enumerate(cents)],
        "cluster int, centroid array<double>, c_sq double")
    dot = F.aggregate(
        F.zip_with("embedding", "centroid", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    aw = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    want = {
        r["vec_id"]: r["cluster"]
        for r in e.crossJoin(F.broadcast(cdf))
        .select("vec_id", "cluster",
                F.round(F.col("c_sq") - 2.0 * dot, 6).alias("dist"))
        .withColumn("ark", F.row_number().over(aw))
        .filter(F.col("ark") == 1)
        .collect()
    }
    assert got == want


def test_semantic_dedup_pairs_matches_bruteforce_within_cluster(spark):
    """SemDeDup pairs == the numpy brute force restricted to the same
    cluster assignment: identical pair set, cosines equal to 4dp, every
    emitted pair a subset of the corpus-wide exact near-dup relation."""
    import numpy as np

    from origami_spark.operators.similarity import (
        assign_ivf,
        semantic_dedup_pairs,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(emb, n_clusters=8, iters=3)
    rows = [
        (int(i), [float(v) for v in c],
         float(sum(float(v) * float(v) for v in c)))
        for i, c in enumerate(cents)
    ]
    cdf = spark.createDataFrame(
        rows, "cluster int, centroid array<double>, c_sq double")
    got = {(r["vec_a"], r["vec_b"]): (r["cluster"], r["cosine"])
           for r in semantic_dedup_pairs(emb, cdf, threshold=0.3).collect()}
    assert got, "threshold must be evidence-bearing on this corpus"

    # brute force over the SAME assignment (the engine's own kernel --
    # this test checks the pair search, not the assignment, which
    # test_ivf_served_kernel_equals_relational already gates)
    e = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS embedding")
    mat = np.asarray([list(c) for c in cents], dtype=np.float64)
    csq = (mat * mat).sum(axis=1)
    assigned = assign_ivf(e, mat, csq, list(range(8))).collect()
    by_id = {r["vec_id"]: (r["cluster"], np.asarray(r["embedding"]))
             for r in assigned}
    want = {}
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        ca, va = by_id[a]
        for b in ids[i + 1:]:
            cb, vb = by_id[b]
            if ca != cb:
                continue
            cos = round(float(va @ vb)
                        / (float(np.linalg.norm(va))
                           * float(np.linalg.norm(vb))), 4)
            if cos >= 0.3:
                want[(a, b)] = (ca, cos)
    assert set(got) == set(want)
    for k2 in got:
        assert got[k2][0] == want[k2][0]
        assert abs(got[k2][1] - want[k2][1]) < 2e-4  # 4dp rounding seam

    # keep-one composes: one survivor per cosine-cluster component
    from origami_spark.operators.components import keep_one_per_component

    pairs = semantic_dedup_pairs(emb, cdf, threshold=0.3).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    kept = keep_one_per_component(emb.select("vec_id"), pairs, id_col="vec_id")
    dropped = emb.count() - kept.count()
    assert dropped > 0
    comp_members = {v for ab in got for v in ab}
    assert dropped <= len(comp_members)


def test_pq_topk_recall_vs_exact(spark):
    """PQ ADC + exact refine: recall@5 vs the exact scan at refine=50
    (10% of the sf0.001 corpus scanned raw)."""
    from origami_spark.operators.similarity import (pq_codebooks_df,
                                                    pq_topk,
                                                    train_pq_codebooks)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cb = train_pq_codebooks(emb, iters=5)
    cdf = pq_codebooks_df(spark, cb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, QUERIES, k=K).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, cdf, QUERIES, k=K, refine=50).collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.80 here (0.925 at refine=100); deterministic init +
    # fixed iters make the trained codebooks run-stable
    assert recall >= 0.75, recall


def test_pq_topk_partition_independent(spark):
    """The partial top-k inside Arrow batches is EXACT under the total
    (dist_q, vec_id) order: any repartitioning yields the identical
    final ranking."""
    from origami_spark.operators.similarity import (pq_codebooks_df,
                                                    pq_topk,
                                                    train_pq_codebooks)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cb = train_pq_codebooks(emb, iters=2)
    cdf = pq_codebooks_df(spark, cb)
    a = sorted(map(tuple, pq_topk(emb, cdf, QUERIES, k=K).collect()))
    b = sorted(map(tuple,
                   pq_topk(emb.repartition(13), cdf, QUERIES, k=K).collect()))
    assert a == b and len(a) == len(QUERIES) * K


def test_pq_encode_matches_python_reference(spark):
    """Codes are the integer-term argmin — pinned against an
    independent Python formulation over the same staged floats."""
    import numpy as np

    from origami_spark.operators.similarity import (_pq_csq, pq_encode,
                                                    train_pq_codebooks)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(64).cache()
    cb = train_pq_codebooks(emb, iters=1)
    got = {r["vec_id"]: list(r["codes"])
           for r in pq_encode(
               emb.selectExpr(
                   "vec_id",
                   "transform(embedding, x -> cast(x as double)) as embedding"),
               cb).collect()}
    c_sq = _pq_csq(cb)
    for r in emb.collect():
        x = np.asarray(list(r["embedding"]), dtype=np.float64)
        codes = []
        for s in range(8):
            best = None
            for c in range(16):
                acc = 0.0
                for d in range(8):
                    acc += x[s * 8 + d] * cb[s, c, d]
                t = int(np.floor((c_sq[s, c] - 2.0 * acc) * 1e6 + 0.5))
                if best is None or t < best[0]:
                    best = (t, c)
            codes.append(best[1])
        assert got[r["vec_id"]] == codes, r["vec_id"]


def _staged_ivfpq(spark, emb, iters=5):
    from origami_spark.operators.similarity import (pq_codebooks_df,
                                                    train_ivf_centroids,
                                                    train_pq_codebooks)

    cents = train_ivf_centroids(emb, n_clusters=16, iters=iters)
    rows = [(int(i), [float(v) for v in c],
             float(sum(float(v) * float(v) for v in c)))
            for i, c in enumerate(cents)]
    cdf = spark.createDataFrame(
        rows, "cluster int, centroid array<double>, c_sq double")
    return cdf, pq_codebooks_df(spark, train_pq_codebooks(emb, iters=iters))


def test_ivfpq_topk_recall_vs_exact(spark):
    """The composed index at the driver-query setting (nprobe=6,
    refine=40): measured 0.85 here (0.975 at refine=80)."""
    from origami_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cdf, cbdf = _staged_ivfpq(spark, emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, QUERIES, k=K).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivfpq_topk(emb, cdf, cbdf, QUERIES, k=K,
                            nprobe=6, refine=40).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_ivfpq_topk_partition_independent(spark):
    """Integer ADC over per-list candidates: identical final ranking at
    any parallelism."""
    from origami_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cdf, cbdf = _staged_ivfpq(spark, emb, iters=2)
    a = sorted(map(tuple,
                   ivfpq_topk(emb, cdf, cbdf, QUERIES, k=K).collect()))
    b = sorted(map(tuple,
                   ivfpq_topk(emb.repartition(13), cdf, cbdf,
                              QUERIES, k=K).collect()))
    assert a == b and len(a) == len(QUERIES) * K


def test_cluster_assign_balanced_reservoir(spark):
    """cluster_assign + reservoir_sample = the cluster-balanced
    diversity sample: every cluster contributes min(k, size) rows,
    deterministic across re-runs and partitioning."""
    from origami_spark.operators.sampling import reservoir_sample
    from origami_spark.operators.similarity import (
        cluster_assign,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_clusters=8, iters=2)
    cdf = spark.createDataFrame(
        [(int(i), [float(v) for v in c],
          float(sum(float(v) * float(v) for v in c)))
         for i, c in enumerate(cents)],
        "cluster int, centroid array<double>, c_sq double")
    assigned = cluster_assign(emb, cdf).select("vec_id", "cluster")
    sizes = {r["cluster"]: r["n"] for r in
             assigned.groupBy("cluster").agg(
                 F.count(F.lit(1)).alias("n")).collect()}
    out = reservoir_sample(assigned, k=3, by="cluster",
                           id_col="vec_id", seed="cb0")
    got = sorted(map(tuple, out.collect()))
    per = {}
    for _, c, _ in got:
        per[c] = per.get(c, 0) + 1
    assert per == {c: min(3, n) for c, n in sizes.items()}
    again = sorted(map(tuple, reservoir_sample(
        assigned.repartition(13), k=3, by="cluster",
        id_col="vec_id", seed="cb0").collect()))
    assert got == again
