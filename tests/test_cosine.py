"""The one cosine kernel (``similarity.pair_cosine``): bit-identical to
Spark's ``aggregate``/``zip_with`` fold, with the fold's null and
division-by-zero behaviour, and the value every embedding operator
emits at any embedding width."""

import inspect
import math
import struct

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from origami_spark.operators import dedup, similarity
from origami_spark.operators.dedup import (
    embedding_contamination,
    embedding_near_dups,
    embedding_near_dups_lsh,
)
from origami_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
    pair_cosine,
    semantic_dedup_pairs,
)


def _fold(a, b):
    """The reference: cosine as Spark's left-to-right higher-order fold."""
    zero = F.lit(0.0).cast("double")
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), zero,
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, zero, lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, zero, lambda acc, x: acc + x * x))
    return dot / (na * nb)


def _both(spark, rows, elem="double"):
    """[(id, fold cosine, kernel cosine)] for (id, a, b) rows.  The fold
    sees the arrays cast to double; the kernel widens them itself."""
    df = spark.createDataFrame(
        rows, f"id int, a array<{elem}>, b array<{elem}>")
    a, b = (F.transform(c, lambda x: x.cast("double")) for c in ("a", "b"))
    got = pair_cosine(df.withColumn("ref", _fold(a, b)), "a", "b")
    return sorted((r["id"], r["ref"], r["cosine"]) for r in got.collect())


def _bits(x):
    return None if x is None else struct.pack("<d", x)


_f32 = st.floats(width=32, allow_nan=False, allow_infinity=False)


@st.composite
def _pairs(draw):
    dim = draw(st.sampled_from([1, 16, 64, 128]))
    vec = st.lists(_f32, min_size=dim, max_size=dim).filter(any)
    return [(i, draw(vec), draw(vec))
            for i in range(draw(st.integers(1, 12)))]


@settings(max_examples=25, deadline=None)
@given(rows=_pairs())
def test_kernel_is_bit_identical_to_the_fold(spark, rows):
    for _, ref, got in _both(spark, rows, elem="float"):
        assert _bits(got) == _bits(ref)


def test_kernel_nulls_and_nan_follow_the_fold(spark):
    rows = [
        (0, None, [1.0, 2.0]),             # null array
        (1, [1.0, 2.0], None),
        (2, [1.0, None, 2.0], [1.0, 2.0, 3.0]),  # null element
        (3, [0.0, 0.0], [0.0, None]),      # null beats a zero norm
        (4, [1.0], [1.0, 2.0]),            # unequal lengths
        (5, [], [1.0]),
        (6, [0.0], [0.0, 1.0]),
        (7, [float("nan"), 1.0], [1.0, 2.0]),  # NaN element -> NaN
        (8, [1.0, 2.0], [3.0, -1.5]),
    ]
    got = _both(spark, rows)
    assert [i for i, ref, _ in got if ref is None] == [0, 1, 2, 3, 4, 5, 6]
    for _, ref, cos in got:
        if ref is not None and math.isnan(ref):
            assert math.isnan(cos)
        else:
            assert _bits(cos) == _bits(ref)


@pytest.mark.parametrize("a,b", [([], []), ([0.0, 0.0], [1.0, 1.0])])
def test_zero_norm_or_empty_vector_raises_like_the_fold(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(_fold("a", "b")).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        pair_cosine(df, "a", "b").collect()


@pytest.mark.parametrize("dim", [16, 128])
def test_every_operator_emits_the_exact_cosine_at_any_width(spark, dim):
    """No operator assumes a width: at 16 and 128 dims every cosine
    emitted equals ``embedding_near_dups``' cosine for that pair."""
    rng = np.random.default_rng(dim)
    base = rng.standard_normal((40, dim))
    near = base[:10] + 0.05 * rng.standard_normal((10, dim))  # 40..49
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in enumerate(np.vstack([base, near]))],
        "vec_id bigint, embedding array<double>")
    exact = {(r["vec_a"], r["vec_b"]): r["cosine"]
             for r in embedding_near_dups(emb, threshold=-1.0).collect()}
    assert len(exact) == 50 * 49 // 2

    def cos(x, y):
        return exact[(min(x, y), max(x, y))]

    queries = [0, 1, 2, 3]
    for op in (cosine_topk(emb, queries, k=5),
               lsh_topk(emb, queries, k=5, planes=2, tables=4)):
        got = op.collect()
        assert got
        assert all(r["cosine"] == cos(r["query_id"], r["vec_id"])
                   for r in got)

    cdf = spark.createDataFrame(
        [(c, [float(x) for x in base[c]], float(base[c] @ base[c]))
         for c in range(2)],
        "cluster int, centroid array<double>, c_sq double")
    for op in (embedding_near_dups_lsh(emb, threshold=0.5, planes=2,
                                       tables=4),
               semantic_dedup_pairs(emb, cdf, threshold=0.5)):
        got = op.collect()
        assert got
        assert all(r["cosine"] == cos(r["vec_a"], r["vec_b"]) for r in got)

    flags = {r["vec_id"]: r["contaminated"]
             for r in embedding_contamination(
                 emb, emb.filter(F.col("vec_id") < 10), threshold=0.9,
                 planes=2, tables=8).collect()}
    assert flags == {v: any(b != v and cos(v, b) >= 0.9 for b in range(10))
                     for v in range(50)}
    assert sum(flags.values()) >= 10


def test_no_operator_takes_an_embedding_width():
    """The width comes from the data: no function of the embedding
    operator modules that takes a DataFrame also takes ``dim``."""
    for mod in (similarity, dedup):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            params = inspect.signature(fn).parameters
            if any("DataFrame" in str(p.annotation)
                   for p in params.values()):
                assert "dim" not in params, f"{mod.__name__}.{name}"
