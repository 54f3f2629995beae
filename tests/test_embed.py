"""Hashed (feature-hashing) embeddings: exact parity with a
pure-Python reference, partition independence, unit norm, and the
bridge into the ANN consumers."""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from origami_spark.operators.embed import (
    hashed_embedding_rows,
    hashed_embedding_vectors,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "pack my box with five dozen liquor jugs"),
    (4, "Data, data everywhere -- and not a byte to keep!"),
    (5, ""),                                             # no tokens
    (6, "   \t \n  "),                                   # whitespace only
]


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_rows(text: str, dim: int):
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    c: dict = {}
    for t in toks:
        b = _h60("b|" + t) % dim
        s = 1 if _h60("g|" + t) % 2 == 0 else -1
        c[b] = c.get(b, 0) + s
    ss = sum(v * v for v in c.values())
    return {
        b: math.floor(v / math.sqrt(ss) * 1e6 + 0.5) / 1e6
        for b, v in c.items() if v != 0
    }


def _docs_df(spark, parts=1):
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    return df.repartition(parts) if parts > 1 else df


def test_rows_match_pure_python_reference(spark):
    dim = 16
    got = {}
    for r in hashed_embedding_rows(_docs_df(spark), dim=dim).collect():
        got.setdefault(r["doc_id"], {})[r["dim_id"]] = r["weight"]
    want = {d: _ref_rows(t, dim) for d, t in DOCS if _ref_rows(t, dim)}
    assert got == want          # exact float equality — the whole point
    assert 5 not in got and 6 not in got


def test_rows_partition_independent(spark):
    a = sorted(map(tuple, hashed_embedding_rows(
        _docs_df(spark), dim=16).collect()))
    b = sorted(map(tuple, hashed_embedding_rows(
        _docs_df(spark, parts=7), dim=16).collect()))
    assert a == b and len(a) > 0


def test_vectors_unit_norm_and_dense_shape(spark):
    dim = 64
    vecs = {r["vec_id"]: list(r["embedding"])
            for r in hashed_embedding_vectors(_docs_df(spark)).collect()}
    assert set(vecs) == {1, 2, 3, 4}
    for v in vecs.values():
        assert len(v) == dim
        # 6-decimal quantization moves each coordinate <= 5e-7, so the
        # squared norm sits within ~2*sqrt(dim)*5e-7 of exactly 1
        assert abs(sum(x * x for x in v) - 1.0) < 1e-5
    assert vecs[1] == vecs[2]   # identical text -> identical vector


def test_vectors_feed_cosine_topk(spark):
    """The bridge contract: exact duplicates rank each other first with
    cosine 1.0 through the unmodified ANN baseline."""
    from origami_spark.operators.similarity import cosine_topk

    emb = hashed_embedding_vectors(_docs_df(spark))
    top = cosine_topk(emb, [1], k=1).collect()
    assert [(r["query_id"], r["vec_id"], r["cosine"]) for r in top] == [
        (1, 2, 1.0)
    ]


def test_sign_cancellation_drops_coordinate(spark):
    """Two tokens in the same bucket with opposite signs contribute
    nothing; the doc's remaining coordinates still normalize to 1."""
    dim = 4
    # find two distinct synthetic tokens colliding with opposite signs
    pool = [f"tok{i}" for i in range(200)]
    pair = None
    for i, a in enumerate(pool):
        for b in pool[i + 1:]:
            if (_h60("b|" + a) % dim == _h60("b|" + b) % dim
                    and (_h60("g|" + a) % 2) != (_h60("g|" + b) % 2)):
                pair = (a, b)
                break
        if pair:
            break
    assert pair, "no colliding opposite-sign pair in pool"
    text = f"{pair[0]} {pair[1]} anchor"
    df = spark.createDataFrame([(9, text)], "doc_id bigint, text string")
    rows = hashed_embedding_rows(df, dim=dim).collect()
    assert {r["dim_id"]: r["weight"] for r in rows} == _ref_rows(text, dim)


def test_plan_no_python_udf_and_two_exchanges(spark):
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    plan = (hashed_embedding_vectors(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # explode -> (doc_id, bucket) agg is one exchange; the norm window,
    # zero-filter, and dense assembly all reuse the doc_id partitioning
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_vectors_feed_semantic_dedup(spark):
    """End-to-end text -> hashed vectors -> k-means -> SemDeDup: the
    exact-duplicate doc pair lands in one cluster with cosine 1.0."""
    from origami_spark.operators.similarity import (
        semantic_dedup_pairs,
        train_ivf_centroids,
    )

    emb = hashed_embedding_vectors(_docs_df(spark))
    cents = train_ivf_centroids(emb, n_clusters=2, iters=2)
    cdf = spark.createDataFrame(
        [(int(i), [float(v) for v in c],
          float(sum(float(v) * float(v) for v in c)))
         for i, c in enumerate(cents)],
        "cluster int, centroid array<double>, c_sq double")
    pairs = semantic_dedup_pairs(emb, cdf, threshold=0.95).collect()
    assert [(r["vec_a"], r["vec_b"], r["cosine"])
            for r in pairs] == [(1, 2, 1.0)]


def test_null_ids_drop_instead_of_merging(spark):
    """Without the guard, every NULL-id doc would fold into one
    garbage vector."""
    docs = spark.createDataFrame(
        [(None, "alpha beta"), (None, "gamma delta"), (7, "alpha beta")],
        "doc_id bigint, text string")
    rows = hashed_embedding_rows(docs, dim=8).collect()
    assert {r["doc_id"] for r in rows} == {7}
