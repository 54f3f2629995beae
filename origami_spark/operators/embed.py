"""Deterministic text embeddings via feature hashing.

The similarity/semantic-dedup stack (``operators/similarity.py``,
``dedup.embedding_near_dups*``) consumes an ``embedding array`` column;
real pipelines produce it with a neural encoder, which this container
does not have.  ``hashed_embedding_rows`` gives a model-free
embedding in sparse form with the *hashing trick* (Weinberger et al. 2009, "Feature Hashing for Large
Scale Multitask Learning", ICML — public): each token hashes to one of
``dim`` buckets with a pseudo-random sign, bucket counts are summed,
and the vector is L2-normalized.  Sparse bag-of-words cosine is a real
(if dated) retrieval/near-dup signal, and the operator is
deterministic end-to-end: the portable md5-based 60-bit hash drives
both bucket and sign, counts are integers, and the only float ops
(division by an IEEE-exact ``sqrt`` of an integer, the shared
``floor(x*1e6+0.5)/1e6`` quantization) are bit-identical in Spark,
numpy, and DuckDB — so the gate can hash-compare weights exactly.

Plan shape (the 100 TB story): one token explode feeds ONE hash
aggregation on ``(doc_id, bucket)`` with map-side partial combine —
data movement is bounded by ``min(tokens, dim)`` rows per doc, <= dim
after the combine.  The per-doc norm is a window over those <= dim
rows (never the corpus), so the whole chain costs two compact
exchanges regardless of corpus size.

Reference parity: origami has no embedding stage; this extends the
grafted corpus-curation family (the SURVEY §2.10 "beyond the
reference" charter); the ``text_hash_embedding`` gate runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# _round6 is the engine-portable floor quantization: ONE
# implementation (its docstring records the verified Spark-vs-DuckDB
# F.round divergence)
from origami_spark.operators.similarity import _round6 as _quant6
from origami_spark.operators.text import portable_hash60, tokens_col

__all__ = ["hashed_embedding_rows"]


def hashed_embedding_rows(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Sparse hashed embedding: one row per non-zero coordinate.

    Output: ``(doc_id, dim_id int, weight double)`` with
    ``weight = c / sqrt(sum_b c_b^2)`` quantized to 6 decimals, where
    ``c_b = sum of +-1 signs`` of the tokens hashing to bucket ``b``
    (bucket = ``hash60('b|' || token) mod dim``, sign = parity of
    ``hash60('g|' || token)``).  Duplicate tokens count multiply —
    term frequency, the standard hashing-trick setup.  A doc with no
    tokens emits nothing; a bucket whose signs cancel to 0 drops (it
    is not a coordinate of the sparse vector).  NULL-id rows drop (the
    sampling-module convention) — without the guard every NULL-id doc
    would aggregate into ONE garbage vector."""
    tok = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id",
        F.explode(tokens_col("text")).alias("tok"),
    )
    c = (
        tok.select(
            "doc_id",
            F.pmod(portable_hash60(F.concat(F.lit("b|"), F.col("tok"))),
                   F.lit(dim)).cast("int").alias("dim_id"),
            F.when(
                F.pmod(portable_hash60(F.concat(F.lit("g|"), F.col("tok"))),
                       F.lit(2)) == 0,
                F.lit(1),
            ).otherwise(F.lit(-1)).alias("s"),
        )
        .groupBy("doc_id", "dim_id")
        .agg(F.sum("s").alias("c"))
    )
    # the window runs over <= dim compact rows per doc — the sketch,
    # never the corpus (the hosts/sketch decomposition rationale)
    w = Window.partitionBy("doc_id")
    return (
        c.withColumn("ss", F.sum(F.col("c") * F.col("c")).over(w))
        .filter(F.col("c") != 0)
        .select(
            "doc_id", "dim_id",
            _quant6(F.col("c") / F.sqrt(F.col("ss"))).alias("weight"),
        )
    )
