"""Corpus language-model quality scoring, dependency-free.

The ccnet pipeline (Wenzek et al. 2020, "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data" — public) ranks web
documents by LANGUAGE-MODEL perplexity: text that a model of the
target distribution finds surprising is usually boilerplate, gibberish
or the wrong register.  ccnet uses a pretrained KenLM; this container
has no model files, so the analog is self-contained: an order-2
character Markov model ESTIMATED FROM THE CORPUS ITSELF (or any
reference corpus the caller passes), scoring p(c3 | c1 c2) with
add-one smoothing.

Engine-portability design: log-probabilities are QUANTIZED to integers
(``qlp = floor(-log2(p) * q + 0.5)``, q=4096 — ~2.4e-4 bits of
resolution) and ``q`` travels IN the model table, so scoring has no
free constants to drift out of sync with the build.  Per-document
scores are INTEGER sums — associative, so the score cannot vary with
partitioning, and a DuckDB oracle summing the same integers matches
bit-for-bit.  The float ``log2`` runs ONLY inside the engine when the
model table is built; the driver query stages that table to parquet
(the ann_ivf_topk/lines_confidence_checked pattern) and the oracle
re-reads it, so cross-engine libm last-ulp differences never enter
the gate.  The out-of-vocabulary penalty is derived FROM the model —
max(qlp) + q, i.e. one bit beyond the least likely seen trigram — so
an unseen trigram is always more surprising than any seen one (a
fixed constant would invert the signal on corpora whose smoothing
floor exceeds it).

Plan shape at 100 TB: model estimation is the wordcount shape — one
shuffle on the trigram key with map-side partial aggregation (the
char-trigram type space is bounded by charset^3, not corpus size),
then a charset^2-row bigram aggregate that joins back BROADCAST;
scoring is a broadcast join of the model table against the per-doc
trigram explode plus one integer groupBy per doc — 2 exchanges, no
window, no Python.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cache
from .text import gram_positions

__all__ = ["char_trigram_lm", "lm_score", "lm_buckets"]

_Q = 4096


def _trigrams(docs: DataFrame) -> DataFrame:
    """One row per (doc_id, position in text): the 3-char substring
    starting there.  Docs shorter than 3 chars contribute nothing
    (gram_positions guards Spark's descending sequence(1, 0))."""
    return docs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                gram_positions(F.length("text"), 3),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("tg"),
    )


def char_trigram_lm(docs: DataFrame) -> DataFrame:
    """Estimate the order-2 character LM: for every corpus trigram
    ``c1c2c3``, ``p = (count(c1c2c3) + 1) / (count(c1c2*) + V)`` with
    V = distinct trigram types (add-one smoothing), returned as
    ``(tg string, qlp bigint, q int)`` where
    ``qlp = floor(-log2(p)*q + 0.5)`` — the integer-quantized surprise
    of seeing ``c3`` after ``c1c2`` — and ``q`` is the quantization
    the table was built with (carried per row so :func:`lm_score` can
    never scale with a mismatched constant).  Persist this table (the
    driver query stages it to parquet) and score any corpus against it
    with :func:`lm_score`."""
    tg = _trigrams(docs)
    tri = tg.groupBy("tg").agg(F.count(F.lit(1)).alias("c3"))
    v = tri.select(F.count(F.lit(1)).alias("v"))
    # the bigram-prefix table is bounded by charset^2 — broadcast it
    # back instead of shuffling the charset^3 trigram table on bg
    bi = (
        tri.select(F.substring("tg", 1, 2).alias("bg"), "c3")
        .groupBy("bg").agg(F.sum("c3").alias("c2"))
    )
    return (
        tri.withColumn("bg", F.substring("tg", 1, 2))
        .join(F.broadcast(bi), "bg")
        .crossJoin(F.broadcast(v))
        .select(
            "tg",
            F.floor(
                -F.log2((F.col("c3") + 1).cast("double")
                        / (F.col("c2") + F.col("v")))
                * _Q + F.lit(0.5)
            ).cast("bigint").alias("qlp"),
            F.lit(_Q).alias("q"),
        )
    )


def lm_score(docs: DataFrame, lm: DataFrame) -> DataFrame:
    """Score documents against a ``char_trigram_lm`` table: returns
    ``(doc_id, n_trigrams bigint, sum_qlp bigint, bits_per_char
    double)`` where bits_per_char = sum_qlp / (n_trigrams * q) — the
    model's cross-entropy per character; HIGH values mean the corpus
    LM finds the text surprising (the ccnet quality signal, inverted:
    ccnet keeps the LOW-perplexity head/middle).  Docs with fewer than
    3 characters produce NO row (no trigram evidence — the model has
    no opinion; gate implementations must not equate "no row" with
    "rejected").  Trigrams absent from the model score max(qlp) + q:
    one bit beyond the least likely SEEN trigram, so out-of-vocabulary
    is always the most surprising outcome whatever the corpus'
    smoothing floor.  Integer sums make the score partition-order-
    independent; the bits_per_char division is exact IEEE in every
    engine."""
    consts = lm.agg(
        (F.max("qlp") + F.max("q")).alias("_oov"),
        F.max("q").alias("_q"),
    )
    tg = _trigrams(docs)
    scored = tg.join(F.broadcast(lm.select("tg", "qlp")), "tg", "left")
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_trigrams"),
             F.count("qlp").alias("_n_in"),
             F.sum("qlp").alias("_s_in"))
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "n_trigrams",
            (F.coalesce("_s_in", F.lit(0))
             + (F.col("n_trigrams") - F.col("_n_in")) * F.col("_oov"))
            .cast("bigint").alias("sum_qlp"),
            ((F.coalesce("_s_in", F.lit(0))
              + (F.col("n_trigrams") - F.col("_n_in")) * F.col("_oov"))
             .cast("bigint")
             / (F.col("n_trigrams") * F.col("_q").cast("double")))
            .alias("bits_per_char"),
        )
    )


def lm_buckets(scored: DataFrame, buckets: int = 3) -> DataFrame:
    """ccnet's head/middle/tail split: rank documents by
    (bits_per_char, id) and cut into ``buckets`` equal-count groups —
    bucket 1 = the head (text the model likes best), the training-mix
    strata ccnet publishes.  Returns (``doc_id``, lm_rank bigint,
    lm_bucket int).

    The global rank is decomposed WITHOUT a single-partition window
    (the shuffle_order recipe, adapted to a VALUE key): bits_per_char
    falls into fixed bins of 1/256 bits — deterministic,
    engine-free, and each bin is a contiguous key range — a small
    per-bin count aggregate yields exclusive prefix offsets, and
    within-bin ranks run in parallel windows.  Bucket =
    floor((rank-1) * buckets / n) + 1, exact integer-derived math in
    every engine (the serial row_number formulation is the DuckDB
    oracle)."""
    from pyspark.sql import Window

    b = cache(scored.select(
        "doc_id", "bits_per_char",
        F.floor(F.col("bits_per_char") * 256).cast("int")
        .alias("_g"),
    ))
    gs = b.groupBy("_g").agg(F.count(F.lit(1)).alias("gn"))
    wp = (
        Window.orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = gs.withColumn(
        "prefix", (F.sum("gn").over(wp) - F.col("gn")).cast("bigint")
    ).select("_g", "prefix")
    n = gs.agg(F.sum("gn").cast("bigint").alias("_n"))
    wg = Window.partitionBy("_g").orderBy("bits_per_char", "doc_id")
    return (
        b.join(F.broadcast(pre), "_g")
        .withColumn("lm_rank",
                    (F.col("prefix") + F.row_number().over(wg))
                    .cast("bigint"))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "lm_rank",
            (F.floor((F.col("lm_rank") - 1) * buckets / F.col("_n")) + 1)
            .cast("int").alias("lm_bucket"),
        )
    )
