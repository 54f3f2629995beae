"""Text-analysis operators for large-scale training-data pipelines.

All pure DataFrame expressions (JVM-side, whole-stage codegen): token
counting, quality scoring, language-ID heuristic, document
fingerprinting.  Each has a matching DuckDB oracle in
``gates/`` — the tokenizer regex and the portable
md5-based hash are chosen so both engines compute bit-identical results.

Reference parity note: origami has no text analytics, but its OCR
confidence scoring (``core/block.py:71-102``) and evidence histograms
(``batch/detect/lines.py:25-54``) are the same shape: per-unit scalar
features from batched content — here computed by Catalyst instead of a
kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# shared with the DuckDB oracles — keep in sync with gates._TOKENS
TOKEN_SPLIT = "[^a-z0-9]+"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

# tiny per-language stopword profiles for the n-gram/stopword language
# heuristic (public-knowledge function words)
LANG_PROFILES = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}


def tokens_col(col: str = "text"):
    """Lower + split + drop empties — identical in the DuckDB oracle."""
    return F.filter(F.split(F.lower(F.col(col)), TOKEN_SPLIT), lambda x: x != "")


def portable_hash60(col):
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    first 15 hex chars of md5 -> bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def gram_positions(length_col, n: int):
    """1-based start positions of the n-grams of a sequence of the
    given length — ``[1 .. length-n+1]``, EMPTY below length n.

    NB: the guard is load-bearing — Spark's sequence(1, 0) is a
    *descending* [1, 0], not empty; shared by the word-shingle and
    char-trigram paths so the gotcha is worked around exactly once."""
    return F.when(
        length_col >= n,
        F.sequence(F.lit(1), length_col - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))


def shingles_expr(toks_col: str, n: int):
    """Word n-gram shingle array (empty when fewer than n tokens)."""
    return F.transform(
        gram_positions(F.size(toks_col), n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks_col, (i + j).cast("int")) for j in range(n)]
        ),
    )


def stop_count(toks_col):
    """Occurrence count of STOPWORDS tokens in a token-array column —
    the Spark half of every stopword-OCCURRENCE signal (quality_score,
    the host quality gate), single-sourced so the count and its DuckDB
    mirrors cannot drift per call site.  (clean.py's Gopher gate counts
    DISTINCT stopword types — a different quantity, not this one.)"""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    c = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return F.size(F.filter(c, lambda x: F.array_contains(stop_arr, x)))


def token_stats(docs: DataFrame) -> DataFrame:
    """Tokens / distinct tokens / chars / mean token length per doc."""
    t = docs.select("doc_id", tokens_col().alias("toks"),
                    F.length("text").cast("bigint").alias("chars"))
    return t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        "chars",
        F.round(
            F.aggregate("toks", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x)).cast("double")
            / F.greatest(F.size("toks"), F.lit(1)),
            4,
        ).alias("mean_token_len"),
    )


# the GPT-2 pre-tokenizer pattern (Radford et al. 2019, public
# `gpt2` encoder regex) in an RE2-SAFE subset: the `\s+(?!\S)`
# lookahead branch is dropped (RE2 — hence DuckDB — has no lookahead),
# so a whitespace run before a word is consumed by the whitespace
# branch instead of being split ` ` + ` word`; `\p{L}`/`\p{N}` narrow
# to ASCII classes so Java (UTF-16) and RE2 (UTF-8) agree on every BMP
# corpus; and whitespace is an EXPLICIT class — bare `\s` means
# different sets per engine (Java includes U+000B, RE2 does not,
# Python adds all unicode spaces), which would silently split
# vertical-tab/NBSP text differently between the engine and its
# oracles.  Both engines use leftmost-first alternation, so the split
# — not just the count — is identical (asserted in tests).
_WS = " \\t\\n\\r\\f\\x0b"
BPE_PRETOKEN_RE = ("'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+"
                   f"| ?[^a-zA-Z0-9{_WS}]+|[{_WS}]+")


def bpe_pretokens(docs: DataFrame) -> DataFrame:
    """BPE-ish token accounting: the GPT-2 pre-tokenizer piece count —
    the standard budget proxy when no tokenizer model is shippable
    (real BPE only subdivides these pieces, so the count is a stable
    lower bound ~1.3x under the true token count for English).
    Returns ``(doc_id, n_pretokens, n_ws_tokens, chars,
    chars_per_pretoken)``; the ratio divides exact bigints (IEEE-
    identical in every engine) with a 0-pretoken guard.  Pure Catalyst
    projection — zero exchanges at any scale."""
    t = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0))
        .cast("bigint").alias("n_pretokens"),
        F.size(tokens_col()).cast("bigint").alias("n_ws_tokens"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return t.select(
        "doc_id", "n_pretokens", "n_ws_tokens", "chars",
        (F.col("chars").cast("double")
         / F.greatest("n_pretokens", F.lit(1)))
        .alias("chars_per_pretoken"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Boilerplate-grade quality features + bucket per document."""
    t = docs.select(
        "doc_id",
        F.length("text").alias("chars"),
        tokens_col().alias("toks"),
        (
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("digit_ratio"),
    )
    t = t.withColumn(
        "stop_ratio",
        stop_count("toks").cast("double")
        / F.greatest(F.size("toks"), F.lit(1)),
    )
    return t.select(
        "doc_id",
        F.col("chars").cast("bigint").alias("chars"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
        F.round("stop_ratio", 4).alias("stop_ratio"),
        F.when((F.size("toks") >= 20) & (F.col("stop_ratio") > 0.05), "high")
        .when(F.size("toks") >= 5, "medium")
        .otherwise("low")
        .alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language scorer; argmax with deterministic
    tie-break on profile order."""
    t = docs.select("doc_id", "lang", tokens_col().alias("toks"))
    scores = [
        F.size(
            F.filter("toks", lambda x: F.array_contains(
                F.array(*[F.lit(w) for w in ws]), x))
        ).alias(f"score_{lg}")
        for lg, ws in LANG_PROFILES.items()
    ]
    t = t.select("doc_id", "lang", *scores)
    # deterministic argmax: greatest score, first profile wins ties
    pred = None
    best = None
    for lg in LANG_PROFILES:
        c = F.col(f"score_{lg}")
        if pred is None:
            pred, best = F.lit(lg), c
        else:
            pred = F.when(c > best, F.lit(lg)).otherwise(pred)
            best = F.greatest(best, c)
    return t.select("doc_id", "lang", pred.alias("pred_lang"),
                    best.cast("bigint").alias("best_score"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-lite document fingerprint: min portable hash over
    word 3-gram shingles (rolling-hash analog, deterministic)."""
    t = docs.select("doc_id", tokens_col().alias("toks"))
    sh = t.select("doc_id", shingles_expr("toks", 3).alias("shingles"))
    hashed = sh.select(
        "doc_id",
        F.transform("shingles",
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                    .cast("bigint")).alias("hs"),
    )
    return hashed.select(
        "doc_id",
        F.when(F.size("hs") > 0, F.array_min("hs")).otherwise(F.lit(None)).alias("fp"),
        F.size("hs").cast("bigint").alias("n_shingles"),
    )


def chunk_documents(docs: DataFrame, size: int = 512,
                    overlap: int = 64) -> DataFrame:
    """Sliding-window document chunking — the embedding/RAG-pipeline
    primitive: fixed ``size``-char windows advancing by ``size -
    overlap``, so consecutive chunks share ``overlap`` chars and no
    character is lost.  Returns ``(doc_id, chunk_id, chunk_start,
    chunk_text)`` with 1-based ``chunk_start`` and ``chunk_id`` dense
    from 0 in document order; ``n = 1 + ceil((len - size) / stride)``
    chunks per doc (one short tail chunk allowed, empty docs emit
    nothing).  Pure Catalyst — an explode of a per-row start sequence,
    zero exchanges at any scale; chunk boundaries are pure integer
    arithmetic, so the identical windows fall out of the DuckDB oracle
    and of any re-run regardless of partitioning.

    Reference parity note: the same windowed re-segmentation shape as
    origami's tile split of oversized pages (``batch/segment.py``
    Tiles), applied to byte ranges instead of pixel grids."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap}/{size}")
    stride = size - overlap
    ln = F.length("text")
    n = F.when(ln <= size, F.when(ln > 0, 1).otherwise(0)).otherwise(
        1 + F.floor((ln - size + stride - 1) / stride).cast("int"))
    # gram_positions' load-bearing guard, same gotcha: sequence(0, -1)
    # on an empty doc is a DESCENDING [0, -1], not empty
    ks = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>"))
    return (
        docs.select("doc_id", "text", F.explode(ks).alias("_k"))
        .select(
            "doc_id",
            F.col("_k").cast("bigint").alias("chunk_id"),
            (F.col("_k") * stride + 1).cast("bigint").alias("chunk_start"),
            F.expr(f"substring(text, _k * {stride} + 1, {size})")
            .alias("chunk_text"),
        )
    )


def sentences_col(text_col: str = "text"):
    """Sentence array of a text column — THE sentence contract, shared
    by :func:`split_sentences` and :func:`readability` (and mirrored
    by their DuckDB oracles) so the two can never disagree: maximal
    non-terminator runs plus their trailing ``.!?`` run (RE2-safe, no
    lookbehind), edge-whitespace-stripped, empties dropped inside the
    array."""
    return F.filter(
        F.transform(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), 0),
            lambda x: F.regexp_replace(
                x, r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", ""),
        ),
        lambda x: x != "",
    )


def split_sentences(docs: DataFrame) -> DataFrame:
    """Deterministic sentence segmentation — the grain between
    documents (dedup, LM gates) and tokens (BPE, stats): sentence
    corpora for alignment-style training, sentence-level dedup, and
    boundary-aware chunking all start here.

    A sentence is a maximal run of non-terminators plus its trailing
    ``.!?`` run (``[^.!?]+[.!?]*`` — RE2-safe, no lookbehind, which
    RE2/DuckDB lacks), edge-whitespace-stripped; empty results drop
    INSIDE the array so ``sent_id`` stays dense from 0 without a
    window.  A terminator-only prefix (a doc starting "...x") has no
    sentence to attach to and drops — documented contract.

    Output: ``(doc_id, sent_id int, sentence)``.  Pure projection:
    one regexp pass + posexplode, zero exchanges at any corpus size.
    NULL-id rows drop (the sampling-module convention).
    """
    arr = sentences_col("text")
    return (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.posexplode(arr).alias("sent_id", "sentence"))
        .select("doc_id", F.col("sent_id").cast("int").alias("sent_id"),
                "sentence")
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-Kincaid grade level (Kincaid et al. 1975 — the classic
    readability signal corpus-quality recipes bin on):
    ``0.39 * words/sentences + 11.8 * syllables/words - 15.59``.

    All three inputs are INTEGER counts from shared machinery — words
    from the repo tokenizer, sentences from the :func:`split_sentences`
    pattern (count of matches), syllables per word approximated as
    vowel-group runs ``[aeiouy]+`` with a minimum of 1 (the standard
    heuristic; exact syllabification needs a dictionary).  The grade
    is one fixed expression tree over two exact integer divisions'
    doubles, quantized via the shared ``floor(x*1e4+0.5)/1e4`` form, so
    the DuckDB oracle reproduces it bit-for-bit.  Empty docs (no words
    or no sentences) carry NULL grade rather than a division artifact.

    Output: ``(doc_id, n_words, n_sentences, n_syllables,
    fk_grade)``.  Pure projection: zero exchanges at any scale.
    """
    toks = tokens_col("text")
    sents = sentences_col("text")
    syl = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.greatest(
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)),
            F.lit(1),
        ),
    )
    base = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(sents).cast("bigint").alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    grade = (
        F.lit(0.39) * (F.col("n_words").cast("double")
                       / F.col("n_sentences").cast("double"))
        + F.lit(11.8) * (F.col("n_syllables").cast("double")
                         / F.col("n_words").cast("double"))
        - F.lit(15.59)
    )
    return base.withColumn(
        "fk_grade",
        F.when((F.col("n_words") > 0) & (F.col("n_sentences") > 0),
               F.floor(grade * 1e4 + F.lit(0.5)) / 1e4),
    )


def phrase_scores(docs: DataFrame, min_count: int = 3) -> DataFrame:
    """Count-based collocation mining — the word2vec phrase-detection
    score (Mikolov et al. 2013, "Distributed Representations of Words
    and Phrases", section 4; the gensim Phrases default):

        score(a, b) = (count(ab) - delta) * V / (count(a) * count(b))

    with V = vocabulary size and delta = 1, computed here as the INTEGER
    ``floor((c_ab - 1) * V * 10^6 / (c_a * c_b))`` so the result
    is partition- and engine-exact (the score is count arithmetic —
    no libm — which is exactly why this detector suits a cross-engine
    gate better than PMI).  Pairs scoring above a caller threshold
    become tokenizer-level phrases ("new york" -> "new_york").

    Output: ``w1, w2, c_ab, score_q`` for bigrams with
    ``c_ab >= min_count`` (delta discounts hapax-driven flukes).

    Scale shape: two wordcount-shaped aggregations (bigrams + unigrams,
    both with map-side combine), then two joins of the bigram relation
    against the unigram counts — vocab-sized sides that AQE broadcasts
    when they fit; the corpus itself is touched once.  The V scalar
    joins in as a broadcast literal row.

    ``min_count`` must exceed ``delta``: a negative numerator would
    hit the one floor-vs-truncate divergence between Spark's ``div``
    and DuckDB's ``//`` (everywhere else this repo divides positives).
    """
    if min_count <= 1:
        raise ValueError(
            f"min_count ({min_count}) must be > delta (1): "
            "a negative score numerator is engine-divergent (div "
            "truncates, // floors) and a pair at or below the "
            "discount carries no signal anyway")
    toks = docs.select(tokens_col("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                gram_positions(F.size("t"), 2),
                lambda i: F.struct(
                    F.element_at("t", i.cast("int")).alias("w1"),
                    F.element_at("t", (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    return (
        bi.join(uni.withColumnRenamed("w", "w1")
                .withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2")
              .withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1", "w2", "c_ab",
            F.expr("((c_ab - 1) * v * 1000000L) div (c1 * c2)")
            .cast("bigint").alias("score_q"),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/feature
    extractor a curation pipeline runs before retrieval or clustering
    (the raw-count TF x smoothed IDF of the standard formulation,
    idf = ln((N + 1) / (df + 1)) + 1, scikit-learn's smooth_idf).

    Output: ``(doc_id, term, tf, score, rk)`` with ``score`` quantized
    via the portable floor(x * 1e4 + 0.5) / 1e4 (the readability
    recipe) BEFORE ranking, so rank ties break identically in both
    engines ((score DESC, term ASC) on the quantized value).

    Scale shape: one token explode into a (doc, term) count (map-side
    combine), a term-grain df aggregate joined back on the term (AQE
    broadcasts the vocab side when it fits), the corpus-count scalar
    as a broadcast literal row, and a per-document window top-k whose
    partitions are bounded by a document's distinct terms."""
    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    raw = (
        F.col("tf").cast("double")
        * (F.log((F.col("_n") + 1).cast("double")
                 / (F.col("_df") + 1).cast("double")) + 1)
    )
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf",
            (F.floor(raw * 1e4 + F.lit(0.5)) / 1e4).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )
