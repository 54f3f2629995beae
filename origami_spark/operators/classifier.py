"""Reference-corpus quality classifier (Naive Bayes over hashed tokens).

The GPT-3 / LLaMA data recipes (Brown et al. 2020 appendix A; Touvron
et al. 2023 — public) filter web crawl with a linear classifier trained
to distinguish a CURATED REFERENCE corpus (positives) from raw crawl
(negatives); CCNet's fastText language filter is the same shape.  A
multinomial Naive Bayes over hashed token features is the
dependency-free analog: training is one wordcount-shaped aggregation,
the model is a fixed-size table, and scoring is a sum of per-token
log-likelihood ratios — a linear classifier, exactly what fastText
reduces to at inference.

Engine-portability design (the ``lm.py`` recipe): per-feature
log-likelihood ratios are QUANTIZED to integers
(``qllr = floor(log2(p(f|1)/p(f|0)) * q + 0.5)``, q=4096) and the
model table is DENSE — one row for every hash bucket in ``[0, B)`` —
so scoring never hits an out-of-vocabulary case: add-one smoothing
already assigns unseen buckets their floor ratio at train time.  The
prior ``qprior = floor(log2(d1/d0) * q + 0.5)`` and ``q`` travel in
the table (every row, like ``lm.q``), so scoring has no free
constants.  Per-document scores are INTEGER sums — associative, hence
partition-order-independent — and the driver query stages the model
to parquet so the DuckDB oracle re-reads the identical integers; the
float ``log2`` runs only inside the engine at train time.

Plan shape at 100 TB: training explodes tokens and aggregates on the
hash bucket — map-side partial aggregation bounds the shuffle at
``B × partitions`` rows regardless of corpus size (B defaults to
4096); the dense model materializes against ``spark.range(B)`` with a
broadcast of the B-row count table; class totals are a second tiny
aggregate, broadcast.  Scoring is a broadcast join of the B-row model
against the per-doc token explode plus one integer groupBy per doc —
one real exchange, no window, no Python.

Reference parity note: origami has no classifier; its nearest shape is
the per-block confidence voting in ``core/block.py:71-102`` (sum of
per-unit evidence -> scalar -> threshold), which is exactly what
``nb_score`` + ``nb_keep`` compute at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import portable_hash60, tokens_col

__all__ = ["nb_train", "nb_score", "nb_keep"]

_Q = 4096
_B = 4096


def nb_train(docs: DataFrame, label_col: str) -> DataFrame:
    """Estimate the classifier from labeled documents
    (``label_col`` = 1 for the reference corpus, 0 for crawl):
    for every hash bucket ``f`` in ``[0, B)`` (``B`` = ``_B`` = 4096),

        ``p(f|c) = (count(f in class c) + 1) / (tokens(c) + B)``

    (add-one smoothing over the bucket space), returned DENSE as
    ``(feat bigint, qllr bigint, qprior bigint, q int, b bigint)`` with
    ``qllr = floor(log2(p(f|1)/p(f|0)) * q + 0.5)`` and
    ``qprior = floor(log2(docs(1)/docs(0)) * q + 0.5)``.  Buckets never
    seen in training get the smoothing-floor ratio — the model has no
    out-of-vocabulary case.  Persist this table (the driver query
    stages it to parquet) and score any corpus with :func:`nb_score`.

    Both classes must be non-empty and contribute at least one token —
    a degenerate training set raises rather than emitting a model whose
    prior is ±inf."""
    spark = docs.sparkSession
    lab = docs.select(
        "text",
        F.col(label_col).cast("int").alias("_y"),
    )
    # carry the label through the explode — joining it back on doc id
    # would re-shuffle the full token relation
    feats = lab.select(
        "_y", F.explode(tokens_col("text")).alias("tok")
    ).select(
        "_y",
        F.pmod(portable_hash60(F.col("tok")), F.lit(_B))
        .cast("bigint").alias("feat"),
    )
    # one wordcount-shaped shuffle on the bounded bucket key — the
    # collect MATERIALIZES it (<= B rows), so the corpus-wide
    # token explode executes exactly once: the returned model's
    # lineage is driver-local rows + range, never the corpus
    cnt_rows = feats.groupBy("feat").agg(
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).alias("c0"),
    ).collect()
    tot = lab.groupBy().agg(
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).alias("d0"),
    ).collect()[0]
    if not tot["d1"] or not tot["d0"]:
        raise ValueError(
            f"nb_train needs both classes non-empty, got d1={tot['d1']} "
            f"d0={tot['d0']}")
    n1 = sum(r["c1"] for r in cnt_rows)
    n0 = sum(r["c0"] for r in cnt_rows)
    if not n1 or not n0:
        raise ValueError(
            f"nb_train needs token evidence in both classes, got "
            f"n1={n1} n0={n0}")
    import math
    qprior = math.floor(
        math.log2(tot["d1"] / tot["d0"]) * _Q + 0.5)
    cnt = spark.createDataFrame(
        [(r["feat"], r["c1"], r["c0"]) for r in cnt_rows],
        "feat bigint, c1 bigint, c0 bigint")
    return (
        spark.range(_B).select(F.col("id").alias("feat"))
        .join(F.broadcast(cnt), "feat", "left")
        .select(
            "feat",
            F.floor(
                (F.log2((F.coalesce("c1", F.lit(0)) + 1)
                        .cast("double") / (n1 + _B))
                 - F.log2((F.coalesce("c0", F.lit(0)) + 1)
                          .cast("double") / (n0 + _B)))
                * _Q + F.lit(0.5)
            ).cast("bigint").alias("qllr"),
            F.lit(qprior).cast("bigint").alias("qprior"),
            F.lit(_Q).alias("q"),
            F.lit(_B).cast("bigint").alias("b"),
        )
    )


def nb_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score documents against an :func:`nb_train` table: returns
    ``(doc_id, n_tokens bigint, score_q bigint, llr_per_token double)``
    where ``score_q = qprior + sum(qllr over token buckets)`` — the
    quantized log-odds that the document came from the reference
    distribution (positive = reference-like, the keep signal) — and
    ``llr_per_token = (score_q - qprior) / (n_tokens * q)`` is the
    length-normalized evidence (the threshold most recipes gate on, so
    long documents don't win on volume alone).  Docs with zero tokens
    produce NO row (no evidence — the model has no opinion; gates must
    not equate "no row" with "rejected").  Every token bucket hits the
    dense model, so the join is an inner broadcast with no OOV branch;
    integer sums make the score partition-order-independent.  The
    bucket count comes FROM the model (``b`` travels in the table like
    ``q``) — a caller-supplied count that disagreed with training would
    silently drop every token hashing past it."""
    consts = model.agg(F.max("qprior").alias("_p"), F.max("q").alias("_q"),
                       F.max("b").alias("_b"))
    feats = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .crossJoin(F.broadcast(consts.select("_b")))
        .select(
            "doc_id",
            F.pmod(portable_hash60(F.col("tok")), F.col("_b"))
            .cast("bigint").alias("feat"),
        )
    )
    return (
        feats.join(F.broadcast(model.select("feat", "qllr")), "feat")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("qllr").alias("_s"))
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_p") + F.col("_s")).cast("bigint").alias("score_q"),
            (F.col("_s").cast("bigint")
             / (F.col("n_tokens") * F.col("_q").cast("double")))
            .alias("llr_per_token"),
        )
    )


def nb_keep(docs: DataFrame, scored: DataFrame,
            min_llr_per_token: float = 0.0) -> DataFrame:
    """Gate a corpus on the classifier: keep documents whose
    length-normalized log-odds clears the threshold, PLUS documents the
    model has no opinion on (zero tokens — no ``scored`` row); the
    reject side is an inner join on the under-threshold ids, so the
    corpus never shuffles (broadcast anti-join against the small reject
    set at real scale, a plain left-anti here)."""
    reject = scored.where(
        F.col("llr_per_token") < F.lit(float(min_llr_per_token))
    ).select("doc_id")
    return docs.join(reject, "doc_id", "left_anti")
