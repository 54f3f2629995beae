"""Hashed (feature-hashing) embeddings: exact parity with a
pure-Python reference, partition independence, sign cancellation and
plan shape."""

import hashlib
import math
import re

from origami_spark.operators.embed import hashed_embedding_rows

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
    plan = (hashed_embedding_rows(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # explode -> (doc_id, bucket) agg is one exchange; the per-doc norm
    # window is the other
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_null_ids_drop_instead_of_merging(spark):
    """Without the guard, every NULL-id doc would fold into one
    garbage vector."""
    docs = spark.createDataFrame(
        [(None, "alpha beta"), (None, "gamma delta"), (7, "alpha beta")],
        "doc_id bigint, text string")
    rows = hashed_embedding_rows(docs, dim=8).collect()
    assert {r["doc_id"] for r in rows} == {7}
