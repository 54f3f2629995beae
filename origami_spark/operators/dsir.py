"""DSIR — data selection with importance resampling, dependency-free.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling", NeurIPS — public) select pretraining data by estimating
two bag-of-hashed-n-gram distributions — the TARGET (a curated
reference corpus) and the RAW crawl — and resampling documents with
probability proportional to the importance weight

    log w(doc) = sum over features f of  count_f(doc) * (log p_f - log q_f)

where ``p`` is the target and ``q`` the raw distribution, features are
hashed word unigrams + bigrams, and selection is either hard top-k or
Gumbel-top-k (sampling without replacement ∝ w).  This is the
"pick data that looks like the reference" step of every modern
pretraining recipe, one notch more principled than the NB classifier
gate (``classifier.py``): the weight is a likelihood RATIO of two
generative models rather than a discriminative posterior.

Engine-portability design (the ``lm.py``/``classifier.py`` recipe):
per-feature log ratios are QUANTIZED to integers
(``qlw = floor((log2 p_f - log2 q_f) * q + 0.5)``, q=4096) and the
model table is DENSE over the hash-bucket space, so scoring has no
out-of-vocabulary branch; ``q`` and the bucket count ``b`` travel in
the table.  Per-document weights are INTEGER sums — associative, hence
partition-order-independent — and the driver query stages the model to
parquet so the DuckDB oracle re-reads the identical integers.  The
Gumbel perturbation for sampled selection is DETERMINISTIC (derived
from a seeded hash of the doc id, so the draw is reproducible across
runs, partitionings, and engines) and lands in the same quantized
integer units as the weights, keeping the selection key a bigint.

Plan shape at 100 TB: training is two wordcount-shaped aggregations
bounded by the bucket space (map-side partial agg; the model
materializes against ``spark.range(b)`` from driver-local counts);
scoring is a broadcast join of the dense model against the per-doc
feature explode plus one integer groupBy per doc — one real exchange,
no window, no Python.  Top-k selection uses the decomposed-rank recipe
(``sampling.shuffle_order``): weights bin into contiguous integer
ranges, a small per-bin count aggregate yields exclusive prefix
offsets, bins that cannot reach rank k are PRUNED before the
within-bin windows run — so no single-partition sort and only ~k rows
ever enter a window.  (Caveat shared with ``lm.lm_buckets``: a corpus
where nearly all docs tie on one exact integer weight degenerates to
one bin; real weights spread over thousands of bins.)

Reference parity note: origami has no data selection; its nearest
shape is the per-block confidence voting (``core/block.py:71-102``) —
a sum of per-unit evidence against a reference distribution, thresholded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cache
from .text import portable_hash60, shingles_expr, tokens_col

__all__ = ["dsir_train", "dsir_score", "dsir_topk", "dsir_sample",
           "gumbel_table"]

_Q = 4096
_B = 4096
# resolution of the dyadic uniform feeding the deterministic Gumbel;
# 16 bits keeps the staged lookup table at 65,536 rows (broadcastable)
# while leaving ties far rarer than the id tie-break already handles
_U_BITS = 16


def _features(docs: DataFrame, *cols) -> DataFrame:
    """One row per (carried cols, feature string): hashed-feature input
    — word unigrams plus word bigrams (the DSIR paper's feature space).
    Docs with zero tokens contribute nothing."""
    t = docs.select(*cols, tokens_col("text").alias("_toks"))
    return t.select(
        *cols,
        F.explode(
            F.concat(F.col("_toks"), shingles_expr("_toks", 2))
        ).alias("g"),
    )


def _bucketed(feats: DataFrame, buckets, *cols) -> DataFrame:
    return feats.select(
        *cols,
        F.pmod(portable_hash60(F.col("g")), buckets)
        .cast("bigint").alias("feat"),
    )


def dsir_train(target: DataFrame, raw: DataFrame) -> DataFrame:
    """Estimate the importance-weight model from a TARGET (reference)
    corpus and a RAW (crawl) corpus: for every hash bucket ``f`` in
    ``[0, B)`` (``B`` = ``_B`` = 4096),

        ``p_f = (count_target(f) + 1) / (feats_target + B)``
        ``q_f = (count_raw(f)    + 1) / (feats_raw    + B)``

    (add-one smoothing over the bucket space), returned DENSE as
    ``(feat bigint, qlw bigint, q int, b bigint)`` with
    ``qlw = floor((log2(p_f) - log2(q_f)) * q + 0.5)`` — the quantized
    per-occurrence log importance ratio.  Buckets unseen on either side
    get their smoothing-floor ratio, so scoring has no OOV case.
    Persist this table (the driver query stages it to parquet) and
    score any corpus with :func:`dsir_score`.

    Both corpora must contribute at least one feature — a degenerate
    side raises rather than emitting a model whose ratios are ±inf.
    Per-bucket counts collect to the driver (≤ ``B`` rows per
    side — bounded by the hash space, not the corpus), so the returned
    model's lineage is driver-local rows + ``range``: staging it never
    re-runs the corpus passes."""
    spark = target.sparkSession

    def counts(side: DataFrame):
        f = _bucketed(_features(side), F.lit(_B))
        return f.groupBy("feat").agg(F.count(F.lit(1)).alias("c")).collect()

    ct = counts(target)
    cr = counts(raw)
    nt = sum(r["c"] for r in ct)
    nr = sum(r["c"] for r in cr)
    if not nt or not nr:
        raise ValueError(
            f"dsir_train needs feature evidence on both sides, got "
            f"target={nt} raw={nr}")
    tdf = spark.createDataFrame([(r["feat"], r["c"]) for r in ct],
                                "feat bigint, ct bigint")
    rdf = spark.createDataFrame([(r["feat"], r["c"]) for r in cr],
                                "feat bigint, cr bigint")
    return (
        spark.range(_B).select(F.col("id").alias("feat"))
        .join(F.broadcast(tdf), "feat", "left")
        .join(F.broadcast(rdf), "feat", "left")
        .select(
            "feat",
            F.floor(
                (F.log2((F.coalesce("ct", F.lit(0)) + 1)
                        .cast("double") / (nt + _B))
                 - F.log2((F.coalesce("cr", F.lit(0)) + 1)
                          .cast("double") / (nr + _B)))
                * _Q + F.lit(0.5)
            ).cast("bigint").alias("qlw"),
            F.lit(_Q).alias("q"),
            F.lit(_B).cast("bigint").alias("b"),
        )
    )


def dsir_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score documents against a :func:`dsir_train` table: returns
    ``(doc_id, n_feats bigint, qlw_sum bigint, q int,
    log2w_per_feat double)`` where ``qlw_sum`` is the quantized log
    importance weight (positive = target-like) and ``log2w_per_feat =
    qlw_sum / (n_feats * q)`` the length-normalized form.  ``q`` is
    carried through so downstream selection (:func:`dsir_sample`) can
    scale its perturbation without a free constant.  Docs with zero
    tokens produce NO row (no evidence — the model has no opinion).
    Every feature hits the dense model, so the join is an inner
    broadcast; integer sums make the weight partition-order-
    independent.  The bucket count comes FROM the model (``b`` travels
    in the table) — a caller-supplied count that disagreed with
    training would silently mis-hash every feature."""
    consts = model.agg(F.max("q").alias("_q"), F.max("b").alias("_b"))
    feats = _bucketed(
        _features(docs, "doc_id")
        .crossJoin(F.broadcast(consts.select("_b"))),
        F.col("_b"), "doc_id")
    return (
        feats.join(F.broadcast(model.select("feat", "qlw")), "feat")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"),
             F.sum("qlw").alias("_s"))
        .crossJoin(F.broadcast(consts.select("_q")))
        .select(
            "doc_id",
            "n_feats",
            F.col("_s").cast("bigint").alias("qlw_sum"),
            F.col("_q").cast("int").alias("q"),
            (F.col("_s").cast("bigint")
             / (F.col("n_feats") * F.col("_q").cast("double")))
            .alias("log2w_per_feat"),
        )
    )


def _decomposed_topk(keyed: DataFrame, k: int, key_col: str,
                     out_cols) -> DataFrame:
    """Exact top-k by (``key_col`` DESC, ``doc_id`` ASC) without a
    global sort: integer keys bin by floor division by ``_Q``
    (monotone, so bins
    are contiguous key ranges), a small per-bin count aggregate yields
    exclusive prefix offsets in descending-bin order, bins whose prefix
    already reaches k are PRUNED before any window runs, and ranks
    within the surviving ~k rows come from per-bin windows.  The serial
    ``row_number() OVER (ORDER BY key DESC, id)`` formulation is the
    DuckDB-oracle twin.

    Rows with a NULL id or key DROP (sampling.py's convention: no
    deterministic position exists, and a NULL bin would land NULLS
    FIRST in the prefix window — inflating every real bin's offset —
    while DuckDB's serial rank puts NULLS LAST: the pair must encode
    one function)."""
    t = cache(
        keyed.filter(F.col("doc_id").isNotNull()
                     & F.col(key_col).isNotNull())
        .withColumn(
            "_g", F.floor(-F.col(key_col) / F.lit(_Q))
            .cast("bigint")))
    gs = t.groupBy("_g").agg(F.count(F.lit(1)).alias("gn"))
    wp = (
        Window.orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = (
        gs.withColumn("prefix",
                      (F.sum("gn").over(wp) - F.col("gn")).cast("bigint"))
        .where(F.col("prefix") < k)
        .select("_g", "prefix")
    )
    wg = Window.partitionBy("_g").orderBy(F.desc(key_col), F.asc("doc_id"))
    return (
        t.join(F.broadcast(pre), "_g")
        .withColumn("dsir_rank",
                    (F.col("prefix") + F.row_number().over(wg))
                    .cast("bigint"))
        .where(F.col("dsir_rank") <= k)
        .select(*out_cols, "dsir_rank")
    )


def dsir_topk(scored: DataFrame, k: int) -> DataFrame:
    """Hard top-k selection: keep the ``k`` documents with the largest
    importance weight, deterministic tie-break on id.  Returns
    (``doc_id``, qlw_sum bigint, dsir_rank bigint) with ``dsir_rank``
    the 1-based position in the (qlw_sum DESC, id ASC) order — the
    DSIR paper's "top-k variant" of importance resampling."""
    return _decomposed_topk(
        scored.select("doc_id", "qlw_sum"), k, "qlw_sum",
        ["doc_id", "qlw_sum"])


def gumbel_table(spark) -> DataFrame:
    """The quantized-Gumbel lookup: for every dyadic uniform value
    ``u = (h2 + 0.5) / 2^16`` over ``h2 in [0, 2^16)``, the variate
    ``qg = floor(-log2(-log2(u)) * q + 0.5)`` at ``q`` = ``_Q`` —
    65,536 rows.  Returns ``(h2 int, qg bigint)``.

    This table is the ONLY transcendental surface of
    :func:`dsir_sample`, isolated here so it can be STAGED like every
    float-log model artifact (lm.py recipe): the driver query writes
    it to parquet and the DuckDB oracle re-reads the identical
    integers — no engine ever recomputes a log2 inside the gate, so a
    last-ulp libm divergence can never flip a floor at a quantization
    boundary.  ``q`` matches the weight model's quantization
    (dsir_train's ``_Q`` — the shared module constant)."""
    denom = float(1 << _U_BITS)
    u = (F.col("id").cast("double") + 0.5) / F.lit(denom)
    return spark.range(1 << _U_BITS).select(
        F.col("id").cast("int").alias("h2"),
        F.floor(-F.log2(-F.log2(u)) * _Q + F.lit(0.5))
        .cast("bigint").alias("qg"),
    )


def dsir_sample(scored: DataFrame, k: int, seed: str = "s0",
                noise: DataFrame | None = None) -> DataFrame:
    """Gumbel-top-k importance resampling — the DSIR paper's sampled
    selection (sampling without replacement with probability ∝ w),
    made deterministic: each doc draws a reproducible uniform index
    ``h2 = hash60(seed|id) mod 2^16`` and perturbs its quantized log
    weight by the looked-up quantized Gumbel variate
    (:func:`gumbel_table`, joined broadcast); the top ``k`` by
    ``gkey = qlw_sum + qg`` are exactly a Gumbel-top-k draw over the
    quantized weights (base-2 logs are the natural-log Gumbel machinery
    scaled by 1/ln2 — a monotone transform, so the selection
    distribution is unchanged).  Returns (``doc_id``, qlw_sum bigint,
    gkey bigint, dsir_rank bigint).  Changing ``seed`` redraws
    independently; the draw is a pure function of (seed, id), so it is
    stable across runs, partitionings, and engines.  Pass ``noise`` to
    reuse a staged :func:`gumbel_table` (the driver-query pattern: the
    oracle re-reads the same staged integers); rows with NULL ids drop
    (no deterministic draw exists)."""
    if noise is None:
        noise = gumbel_table(scored.sparkSession)
    h2 = F.pmod(
        portable_hash60(
            F.concat(F.lit(seed + "|"), F.col("doc_id").cast("string"))),
        F.lit(1 << _U_BITS),
    ).cast("int")
    keyed = (
        scored.select("doc_id", "qlw_sum", h2.alias("h2"))
        .join(F.broadcast(noise), "h2")
        .select("doc_id", "qlw_sum",
                (F.col("qlw_sum") + F.col("qg")).alias("gkey"))
    )
    return _decomposed_topk(keyed, k, "gkey",
                            ["doc_id", "qlw_sum", "gkey"])
