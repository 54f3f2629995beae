"""Trained-model gates (LM, NB classifier, DSIR, BM25, BPE) with staged models."""

import os

from pyspark.sql import functions as F

from origami_spark.operators import text as T

from gates import (ROWS_ONLY, _H60, _STAGE_DIR, _TOKENS, _TRAIN_CACHE, _spread,
                   _staged, _t, gate, stage)

LM_TABLE_PATH = os.path.join(_STAGE_DIR, "trigram_lm.parquet")
NB_MODEL_PATH = os.path.join(_STAGE_DIR, "nb_model.parquet")


BM25_STATS_PATH = os.path.join(_STAGE_DIR, "bm25_stats.parquet")


DSIR_MODEL_PATH = os.path.join(_STAGE_DIR, "dsir_model.parquet")
DSIR_GUMBEL_PATH = os.path.join(_STAGE_DIR, "dsir_gumbel.parquet")


# the pinned "reference corpus" label for the classifier queries — the
# GPT-3 recipe's positives (curated sources) vs crawl negatives; the
# DuckDB oracle applies the identical membership rule
_REF_SOURCES = ("src0", "src1", "src2", "src3")


# NB quality classifier over the staged dense model table
# (text_classifier_score stages it before returning): DuckDB redoes
# the token explode, the bucket hash, the model join (dense — every
# bucket hits), and the INTEGER log-likelihood-ratio sum
_NB_SCORE_CTE = f"""
        WITH m AS (SELECT feat, qllr, qprior, q, b
                   FROM '{NB_MODEL_PATH}/*.parquet'),
        c AS (
          -- the staged table carries its own constants: the class
          -- prior, the quantization q, and the bucket count b
          SELECT CAST(max(qprior) AS BIGINT) AS p,
                 CAST(max(q) AS BIGINT) AS q
          FROM m),
        t AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
        f AS (SELECT doc_id,
                     {_H60.format(x="tok")} % (SELECT max(b) FROM m) AS feat
              FROM t),
        s AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(qllr) AS BIGINT) AS s_in
          FROM f JOIN m USING (feat)
          GROUP BY doc_id)"""


# GPT-2 pre-tokenizer piece count: the IDENTICAL RE2-safe pattern
# runs in DuckDB — derived mechanically from the single source of
# truth (operators/text.BPE_PRETOKEN_RE), never respelled;
# leftmost-first alternation in both engines makes the split equal
_BPE_RE_SQL = "'" + T.BPE_PRETOKEN_RE.replace("'", "''") + "'"


# DSIR importance weights over the staged dense model table
# (text_dsir_score stages it before returning): DuckDB redoes the
# unigram+bigram explode, the bucket hash, the dense-model join,
# and the INTEGER log-ratio sum — associative, no float-
# accumulation portability gap
_DSIR_SCORE_CTE = f"""
        WITH m AS (SELECT feat, qlw, q, b
                   FROM '{DSIR_MODEL_PATH}/*.parquet'),
        c AS (
          -- the staged table carries its own constants: the
          -- quantization q and the bucket count b
          SELECT CAST(max(q) AS BIGINT) AS q,
                 CAST(max(b) AS BIGINT) AS b
          FROM m),
        t AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_concat(t,
                       list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i+1])))
                       AS g
              FROM t),
        f AS (SELECT doc_id,
                     {_H60.format(x="g")} % c.b AS feat
              FROM g CROSS JOIN c),
        s AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(qlw) AS BIGINT) AS s_in
          FROM f JOIN m USING (feat)
          GROUP BY doc_id)"""


# ccnet-style LM scoring over the staged quantized-logprob table
# (text_lm_quality stages it before returning): DuckDB redoes the
# trigram explode, the model join, and the INTEGER sum — associative
# by construction, so no float-accumulation portability gap exists
@gate(f"""
        WITH lm AS (SELECT tg, qlp, q FROM '{LM_TABLE_PATH}/*.parquet'),
        c AS (
          -- the staged table carries its own constants: OOV = one bit
          -- beyond the least likely seen trigram, q = the quantization
          SELECT CAST(max(qlp) + max(q) AS BIGINT) AS oov,
                 CAST(max(q) AS BIGINT) AS q
          FROM lm),
        t AS (
          SELECT doc_id,
                 unnest(CASE WHEN length(text) >= 3 THEN
                   list_transform(range(1, length(text) - 1),
                                  i -> substr(text, i, 3))
                 ELSE CAST([] AS VARCHAR[]) END) AS tg
          FROM documents),
        s AS (
          SELECT doc_id, count(*) AS n_trigrams, count(qlp) AS n_in,
                 CAST(coalesce(sum(qlp), 0) AS BIGINT) AS s_in
          FROM t LEFT JOIN lm USING (tg)
          GROUP BY doc_id)
        SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
               CAST(s_in + (n_trigrams - n_in) * c.oov AS BIGINT)
                 AS sum_qlp,
               CAST(s_in + (n_trigrams - n_in) * c.oov AS BIGINT)
                 / (n_trigrams * CAST(c.q AS DOUBLE)) AS bits_per_char
        FROM s CROSS JOIN c""")
def text_lm_quality(spark, sf):
    """ccnet-style LM quality scoring (operators/lm.py, Wenzek et al.
    2020): an order-2 char Markov model estimated from the corpus,
    log-probs quantized to integers (partition-order-independent sums).
    The model table — the only float-log surface — is staged to parquet
    and the DuckDB oracle re-reads it, redoing the trigram explode,
    broadcast join, and integer aggregation."""
    from origami_spark.operators.lm import char_trigram_lm, lm_score

    docs = _t(spark, sf, "documents")
    lm = char_trigram_lm(docs)
    lm.coalesce(1).write.mode("overwrite").parquet(_staged(LM_TABLE_PATH))
    staged = spark.read.parquet(LM_TABLE_PATH)
    return lm_score(docs, staged)


# lm_buckets against the SERIAL rank: DuckDB recomputes the staged-
# model scores (same integer sums as text_lm_quality), then one
# global row_number over (bits_per_char, doc_id) — proving the
# 256-bins-per-bit decomposed rank equals the serial formulation
@gate(f"""
        WITH lm AS (SELECT tg, qlp, q FROM '{LM_TABLE_PATH}/*.parquet'),
        c AS (
          SELECT CAST(max(qlp) + max(q) AS BIGINT) AS oov,
                 CAST(max(q) AS BIGINT) AS q
          FROM lm),
        t AS (
          SELECT doc_id,
                 unnest(CASE WHEN length(text) >= 3 THEN
                   list_transform(range(1, length(text) - 1),
                                  i -> substr(text, i, 3))
                 ELSE CAST([] AS VARCHAR[]) END) AS tg
          FROM documents),
        s AS (
          SELECT doc_id, count(*) AS n_trigrams, count(qlp) AS n_in,
                 CAST(coalesce(sum(qlp), 0) AS BIGINT) AS s_in
          FROM t LEFT JOIN lm USING (tg)
          GROUP BY doc_id),
        sc AS (
          SELECT doc_id,
                 CAST(s_in + (n_trigrams - n_in) * c.oov AS BIGINT)
                   / (n_trigrams * CAST(c.q AS DOUBLE)) AS bits_per_char
          FROM s CROSS JOIN c),
        r AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bits_per_char, doc_id)
                      AS BIGINT) AS lm_rank,
                 count(*) OVER () AS n
          FROM sc)
        SELECT doc_id, lm_rank,
               CAST(floor((lm_rank - 1) * 3 / n) + 1 AS INT) AS lm_bucket
        FROM r""")
def text_lm_buckets(spark, sf):
    """ccnet's head/middle/tail strata (operators/lm.lm_buckets): rank
    every scored document by (bits_per_char, doc_id) and cut into 3
    equal-count buckets.  The engine rank is the decomposed 256-bins-
    per-bit prefix (no single-partition window); the oracle is the
    SERIAL row_number over the identical staged-model scores —
    decomposed == serial is exactly the claim under test."""
    from origami_spark.operators.lm import (char_trigram_lm, lm_buckets,
                                            lm_score)

    docs = _t(spark, sf, "documents")
    lm = char_trigram_lm(docs)
    lm.coalesce(1).write.mode("overwrite").parquet(_staged(LM_TABLE_PATH))
    staged = spark.read.parquet(LM_TABLE_PATH)
    return lm_buckets(lm_score(docs, staged), buckets=3)


def _stage_nb_model(spark, sf):
    """Train the reference-source NB model once per corpus and stage it
    (memoized per (path, sf) like every trained artifact): the scoring
    queries and the bench's timed runs measure the SCORE path, not the
    wordcount-shaped training pass."""
    from origami_spark.operators.classifier import nb_train

    def build():
        docs = _t(spark, sf, "documents")
        lab = docs.withColumn(
            "y", F.col("source").isin(*_REF_SOURCES).cast("int"))
        return nb_train(lab, "y").coalesce(1)

    return stage(spark, NB_MODEL_PATH, sf, build)


@gate(f"""{_NB_SCORE_CTE}
        SELECT doc_id, n_tokens,
               CAST(c.p + s.s_in AS BIGINT) AS score_q,
               s.s_in / (n_tokens * CAST(c.q AS DOUBLE)) AS llr_per_token
        FROM s CROSS JOIN c""")
def text_classifier_score(spark, sf):
    """GPT-3-style reference-corpus quality classifier
    (operators/classifier.py, Brown et al. 2020 appendix A):
    multinomial Naive Bayes over hashed tokens, trained on a pinned
    reference-source label, log-likelihood ratios quantized to
    integers (partition-order-independent sums).  The dense B-row
    model — the only float-log surface — is staged to parquet and the
    DuckDB oracle re-reads it, redoing the token explode, bucket hash,
    broadcast join, and integer aggregation."""
    from origami_spark.operators.classifier import nb_score

    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    staged = _stage_nb_model(spark, sf)
    return nb_score(docs, staged)


# the gate: reject iff llr/token < -0.52 — the identical
# integer-by-staged-q division in both engines (exact IEEE);
# zero-token docs have no scored row and survive
@gate(f"""{_NB_SCORE_CTE}
        SELECT d.doc_id, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (
          SELECT doc_id FROM s CROSS JOIN c
          WHERE s.s_in / (s.n_tokens * CAST(c.q AS DOUBLE)) < -0.52)""")
def text_classifier_keep(spark, sf):
    """The classifier as a corpus gate (classifier.nb_keep): keep
    documents whose length-normalized log-odds clears -0.52 bits/token,
    plus zero-token documents the model has no opinion on.  With 4 of
    20 sources as positives every shared token carries net-negative
    evidence, so scores center near -0.52 at both gate SFs (measured
    quantiles: p25 -0.535 / p75 -0.506) — the threshold splits the
    corpus ~half/half instead of degenerating to keep-none at 0.0.
    The corpus side never shuffles — the reject set joins left-anti.
    The comparison divides the same integers by the same staged q in
    both engines (exact IEEE), so the gate cannot flip between
    them."""
    from origami_spark.operators.classifier import nb_keep, nb_score

    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    staged = _stage_nb_model(spark, sf)
    kept = nb_keep(docs, nb_score(docs, staged),
                   min_llr_per_token=-0.52)
    return kept.select("doc_id", "source")


def _stage_dsir_model(spark, sf):
    """Train the DSIR importance-weight model once per corpus and stage
    it (memoized per (path, sf) like every trained artifact): target =
    the pinned reference sources, raw = the full crawl (the paper's
    setup — the raw side is the distribution documents are drawn from,
    so the reference docs appear on both sides)."""
    from origami_spark.operators.dsir import dsir_train

    def build():
        docs = _t(spark, sf, "documents")
        target = docs.where(F.col("source").isin(*_REF_SOURCES))
        return dsir_train(target, docs).coalesce(1)

    return stage(spark, DSIR_MODEL_PATH, sf, build)


@gate(f"""{_DSIR_SCORE_CTE}
        SELECT doc_id, n_feats,
               s_in AS qlw_sum,
               CAST(c.q AS INT) AS q,
               s_in / (n_feats * CAST(c.q AS DOUBLE)) AS log2w_per_feat
        FROM s CROSS JOIN c""")
def text_dsir_score(spark, sf):
    """DSIR importance weights (operators/dsir.py, Xie et al. 2023):
    the quantized log likelihood-ratio of the target (reference
    sources) vs raw (full crawl) hashed unigram+bigram distributions,
    summed per document as partition-order-independent integers.  The
    dense model — the only float-log surface — is staged to parquet
    and the DuckDB oracle re-reads it, redoing the feature explode,
    bucket hash, broadcast join, and integer aggregation."""
    from origami_spark.operators.dsir import dsir_score

    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    return dsir_score(docs, _stage_dsir_model(spark, sf))


# DSIR top-k against the SERIAL rank: the engine's pruned-bin
# decomposed top-k must equal one global row_number over
# (qlw_sum DESC, doc_id)
@gate(f"""{_DSIR_SCORE_CTE},
        r AS (
          SELECT doc_id, s_in AS qlw_sum,
                 CAST(row_number() OVER (ORDER BY s_in DESC, doc_id)
                      AS BIGINT) AS dsir_rank
          FROM s)
        SELECT doc_id, qlw_sum, dsir_rank FROM r WHERE dsir_rank <= 50""")
def sample_dsir_topk(spark, sf):
    """DSIR hard top-k selection (operators/dsir.dsir_topk): keep the
    50 most reference-like documents by quantized importance weight.
    The engine rank is the decomposed bin-prefix top-k (bins that
    cannot reach rank k are pruned before any window runs); the oracle
    is the SERIAL row_number over the identical staged-model weights —
    decomposed == serial is exactly the claim under test."""
    from origami_spark.operators.dsir import dsir_score, dsir_topk

    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    scored = dsir_score(docs, _stage_dsir_model(spark, sf))
    return dsir_topk(scored, 50)


def _stage_gumbel(spark, sf):
    """Stage the 65,536-row quantized-Gumbel lookup (dsir.gumbel_table)
    — the variate is a pure function of (q, u_bits), so the table is
    corpus-independent, but the stage write is memoized like every
    artifact so repeated calls measure the serve path."""
    from origami_spark.operators.dsir import gumbel_table

    return stage(spark, DSIR_GUMBEL_PATH, sf,
                 lambda: gumbel_table(spark).coalesce(1))


# DSIR Gumbel-top-k: the perturbation is LOOKED UP in the staged
# quantized-Gumbel table (sample_dsir_gumbel stages it) by the
# identical seeded 16-bit hash index — the gate never recomputes a
# log2 in either engine — then the serial rank
@gate(f"""{_DSIR_SCORE_CTE},
        gk AS (
          SELECT s.doc_id, s.s_in AS qlw_sum,
                 CAST(s.s_in + n.qg AS BIGINT) AS gkey
          FROM s JOIN '{DSIR_GUMBEL_PATH}/*.parquet' n
            ON n.h2 = {_H60.format(x="'g0|' || s.doc_id")} % 65536),
        r AS (
          SELECT *, CAST(row_number() OVER (ORDER BY gkey DESC, doc_id)
                         AS BIGINT) AS dsir_rank
          FROM gk)
        SELECT doc_id, qlw_sum, gkey, dsir_rank
        FROM r WHERE dsir_rank <= 50""")
def sample_dsir_gumbel(spark, sf):
    """DSIR Gumbel-top-k importance resampling (dsir.dsir_sample):
    sampling-without-replacement ∝ w, made deterministic — each doc's
    Gumbel variate is LOOKED UP by its seeded 16-bit hash in the
    staged gumbel_table (the lm.py recipe: the float log2 runs only in
    the engine at table-build time; the oracle re-reads the identical
    integers and joins on the same hash index, so no engine recomputes
    a transcendental inside the gate).  The serial row_number over the
    perturbed keys is the oracle formulation."""
    from origami_spark.operators.dsir import dsir_sample, dsir_score

    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    scored = dsir_score(docs, _stage_dsir_model(spark, sf))
    return dsir_sample(scored, 50, seed="g0",
                       noise=_stage_gumbel(spark, sf))


@gate(ROWS_ONLY)
def text_bpe_encode(spark, sf):
    """Distributed BPE tokenizer training + encoding (operators/bpe.py,
    Sennrich et al. 2016): 40 merges learned from the corpus word-count
    table (one bounded pair-count aggregate + a one-row argmax + a
    pure-Catalyst fold per round — the iterative-trainer shape), then
    every document encoded through an Arrow kernel applying the staged
    merges.  Training is iterative and argmax-dependent, hence not
    SQL-expressible — this is a rows-only gate row (the
    extract_compose precedent); exactness is pinned by
    tests/test_bpe.py against a pure-Python reference implementation
    (merge-sequence equality incl. tie-breaks, encode-count equality,
    partition independence)."""
    from origami_spark.operators.bpe import (bpe_encode, bpe_merges_df,
                                             bpe_train)

    docs = _t(spark, sf, "documents")
    key = ("bpe", sf)
    if key not in _TRAIN_CACHE:
        _TRAIN_CACHE[key] = bpe_train(docs, n_merges=40)
    return bpe_encode(docs, bpe_merges_df(spark, _TRAIN_CACHE[key]))


@gate(f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, {_BPE_RE_SQL})) AS BIGINT)
                 AS n_pretokens,
               CAST(len({_TOKENS}) AS BIGINT) AS n_ws_tokens,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(length(text) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, {_BPE_RE_SQL})), 1)
                 AS chars_per_pretoken
        FROM documents""")
def text_bpe_pretokens(spark, sf):
    """BPE-ish token counting (operators/text.bpe_pretokens): the
    GPT-2 pre-tokenizer piece count via an RE2-safe pattern, so the
    DuckDB oracle runs the IDENTICAL regex and the split — not just
    the count — matches."""
    return T.bpe_pretokens(_t(spark, sf, "documents"))


# BM25 over the staged per-term stats: the oracle re-derives tf/dl
# from the shared tokenizer, reuses the STAGED qidf/avgdl floats,
# computes the identical fixed expression tree, quantizes to the
# same integer micro-units, and integer-sums — then the serial
# row_number proves the engine's two-level top-k equal
@gate(f"""
        WITH s AS (SELECT term, qidf, avgdl
                   FROM '{BM25_STATS_PATH}/*.parquet'),
        t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        x AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                     unnest(toks) AS term
              FROM t),
        m AS (SELECT x.doc_id, x.term, x.dl, s.qidf, s.avgdl
              FROM x JOIN s USING (term)),
        c AS (
          SELECT doc_id, term,
                 CAST(floor(
                   (CAST(any_value(qidf) AS DOUBLE) / 1000000.0)
                   * (CAST(count(*) AS DOUBLE) * 2.2
                      / (CAST(count(*) AS DOUBLE)
                         + 1.2 * (0.25
                                  + 0.75 * CAST(any_value(dl) AS DOUBLE)
                                    / any_value(avgdl))))
                   * 1000000.0 + 0.5) AS BIGINT) AS cq
          FROM m GROUP BY doc_id, term),
        sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
                      CAST(sum(cq) AS BIGINT) AS score_q
               FROM c GROUP BY doc_id),
        r AS (SELECT *, CAST(row_number() OVER
                     (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rk
              FROM sc)
        SELECT doc_id, n_terms_matched, score_q,
               score_q / 1000000.0 AS score, rk
        FROM r WHERE rk <= 10""")
def text_bm25_topk(spark, sf):
    """BM25 ranked retrieval (operators/retrieval.py, Robertson &
    Zaragoza 2009) for a pinned 3-term query: the idf/avgdl floats are
    computed once at index time and STAGED (the lm.py recipe — no
    cross-engine libm in the gate); per-(doc, term) contributions come
    from a fixed exact-IEEE expression tree over the staged values,
    quantized to integer micro-units and integer-summed per doc; top-10
    via the two-level hash-group window (no corpus-wide single-task
    sort)."""
    from origami_spark.operators.retrieval import bm25_stats, bm25_topk

    docs = _t(spark, sf, "documents")
    # index stats are built once per corpus (deterministic), staged,
    # and memoized per (path, sf) like every trained artifact — the
    # bench's timed run measures the QUERY path, not the index build
    staged = stage(spark, BM25_STATS_PATH, sf, lambda: bm25_stats(
        docs, ["spark", "window", "merge"]).coalesce(1))
    return bm25_topk(_spread(docs, "doc_id"), staged, k=10)
