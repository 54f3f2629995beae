"""Text feature and cleaning gates over the documents table."""

from pyspark.sql import functions as F

from origami_spark.operators import dedup as D
from origami_spark.operators import text as T

from gates import _H60, _TOKENS, _spread, _t, gate

def _l8_cte(decorated: bool = False) -> str:
    """Shared line-synthesis CTEs (mirrors _lines8_cols): 8-token lines
    of the shared tokenizer output, optionally with the C4-trigger
    decorations."""
    deco = ""
    if decorated:
        deco = """
                              || CASE WHEN i % 7 = 0 THEN ' javascript' ELSE '' END
                              || CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END"""
    return rf"""toks0 AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            l8 AS (
              SELECT doc_id,
                     CASE WHEN len(t) > 0 THEN
                       list_transform(range(1, CAST(ceil(len(t) / 8.0) AS INT) + 1),
                         i -> array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' '){deco})
                     ELSE CAST([] AS VARCHAR[]) END AS lines8
              FROM toks0)"""


# boilerplate-sentinel text used by the repetition / gate / paragraph
# oracles (mirrors the Spark wrappers: one sentinel line for every doc,
# a second on even doc_ids)
_SENT_TX_CTE = """tx AS (
              SELECT doc_id,
                     array_to_string(lines8, chr(10))
                     || chr(10) || 'the copied boilerplate line'
                     || CASE WHEN doc_id % 2 = 0
                             THEN chr(10) || 'the copied boilerplate line'
                             ELSE '' END AS text2
              FROM l8)"""


# repetition-feature CTE chain over `tx` — shared verbatim by the
# text_repetition and text_gopher_gate oracles (the gate's extra token
# features ride along unused in the former)
_REP_FEATURE_CTES = r"""base AS (
              SELECT doc_id, length(text2) AS chars,
                     list_filter(list_transform(
                       regexp_split_to_array(text2, chr(10)),
                       x -> regexp_replace(x,
                         '\A[ \t\n\r\f\x0b\xa0]+|[ \t\n\r\f\x0b\xa0]+\z', '', 'g')),
                       x -> x <> '') AS lines,
                     list_filter(regexp_split_to_array(lower(text2), '[^a-z0-9]+'),
                                 x -> x <> '') AS t
              FROM tx),
            lstat AS (
              SELECT doc_id, chars, t, lines,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     round(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                           * 1.0 / greatest(len(t), 1), 4) AS mean_len,
                     len(list_intersect(list_distinct(t),
                         ['the','a','of','and','to','in','is','on','for','it']))
                       AS stop_hits,
                     len(lines) AS n_lines,
                     len(list_distinct(lines)) AS n_distinct_lines,
                     coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                       AS line_chars
              FROM base),
            lx AS (SELECT doc_id, unnest(lines) AS line FROM base),
            lcnt AS (SELECT doc_id, line, count(*) AS c FROM lx GROUP BY 1, 2),
            lc AS (SELECT doc_id, sum((c - 1) * length(line)) AS dup_chars
                   FROM lcnt GROUP BY 1),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 2 THEN
                       list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                     ELSE CAST([] AS VARCHAR[]) END AS g2,
                     CASE WHEN len(t) >= 5 THEN
                       list_transform(range(1, len(t) - 3),
                                      i -> array_to_string(t[i:i+4], ' '))
                     ELSE CAST([] AS VARCHAR[]) END AS g5
              FROM lstat),
            g2x AS (SELECT doc_id, unnest(g2) AS gram FROM g),
            g2c AS (SELECT doc_id, gram, count(*) AS c FROM g2x GROUP BY 1, 2),
            top2 AS (
              SELECT doc_id, gram AS top_2gram, c AS top_c
              FROM (SELECT doc_id, gram, c,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY c DESC, gram ASC) AS rn
                    FROM g2c)
              WHERE rn = 1),
            g5s AS (SELECT doc_id, len(g5) AS n5, len(list_distinct(g5)) AS nd5 FROM g),
            feat AS (
              SELECT s.doc_id, s.chars, s.n_tokens, s.mean_len, s.stop_hits,
                     s.n_lines,
                     round((s.n_lines - s.n_distinct_lines) * 1.0
                           / greatest(s.n_lines, 1), 4) AS dup_line_frac,
                     round(coalesce(d.dup_chars, 0) * 1.0
                           / greatest(s.line_chars, 1), 4) AS dup_line_char_frac,
                     coalesce(t2.top_2gram, '') AS top_2gram,
                     round(coalesce(t2.top_c * length(t2.top_2gram), 0) * 1.0
                           / greatest(s.chars, 1), 4) AS top_2gram_frac,
                     round((g5.n5 - g5.nd5) * 1.0 / greatest(g5.n5, 1), 4)
                       AS dup_5gram_frac
              FROM lstat s
              LEFT JOIN lc d USING (doc_id)
              LEFT JOIN top2 t2 USING (doc_id)
              JOIN g5s g5 USING (doc_id))"""


@gate(f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS} AS t, length(text) AS chars
              FROM documents)
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
                   CAST(chars AS BIGINT) AS chars,
                   round(list_sum(list_transform(t, x -> length(x))) * 1.0
                         / greatest(len(t), 1), 4) AS mean_token_len
            FROM toks""")
def text_token_stats(spark, sf):
    return T.token_stats(_t(spark, sf, "documents"))


# sliding-window chunking: size=200, overlap=40 -> stride=160; the
# chunk count and starts are the same integer arithmetic as
# text.chunk_documents, windows via generate_series
@gate("""
        WITH n AS (
          SELECT doc_id, text, length(text) AS ln,
                 CASE WHEN length(text) = 0 THEN 0
                      WHEN length(text) <= 200 THEN 1
                      ELSE 1 + (length(text) - 200 + 159) // 160
                 END AS n_chunks
          FROM documents)
        SELECT doc_id,
               CAST(k AS BIGINT) AS chunk_id,
               CAST(k * 160 + 1 AS BIGINT) AS chunk_start,
               substr(text, CAST(k * 160 + 1 AS INT), 200) AS chunk_text
        FROM n, LATERAL unnest(range(0, n_chunks)) AS r(k)""")
def text_chunks(spark, sf):
    """Sliding-window chunking (operators/text.chunk_documents): the
    embedding/RAG primitive — 200-char windows, 40-char overlap; chunk
    boundaries are pure integer arithmetic, so the DuckDB oracle emits
    the identical windows from a generate_series."""
    return T.chunk_documents(_t(spark, sf, "documents"), size=200,
                             overlap=40)


# list_sum of an empty list is NULL in DuckDB (Spark's
# aggregate fold starts at 0) -> coalesce; grade NULL when a
# count is zero rather than a division artifact
@gate(f"""
            WITH b AS (
              SELECT doc_id,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_words,
                     CAST(len(list_filter(list_transform(
                       regexp_extract_all(text, '[^.!?]+[.!?]*'),
                       x -> regexp_replace(x,
                         '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g')),
                       x -> x <> '')) AS BIGINT) AS n_sentences,
                     CAST(coalesce(list_sum(list_transform({_TOKENS},
                       x -> greatest(len(regexp_extract_all(x,
                         '[aeiouy]+')), 1))), 0) AS BIGINT) AS n_syllables
              FROM documents)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 AND n_sentences > 0 THEN
                     floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                            + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                            - 15.59) * 1e4 + 0.5) / 1e4
                   END AS fk_grade
            FROM b""")
def text_readability(spark, sf):
    """Flesch-Kincaid grade (operators/text.readability): integer
    word/sentence/vowel-group counts from the shared tokenizer and
    sentence pattern, one exact-IEEE expression tree quantized by the
    floor form — the oracle reproduces the grade bit-for-bit."""
    from origami_spark.operators.text import readability

    return readability(_t(spark, sf, "documents"))


@gate("""
            WITH s AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       regexp_extract_all(text, '[^.!?]+[.!?]*'),
                       x -> regexp_replace(x,
                         '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g')),
                       x -> x <> '') AS arr
              FROM documents WHERE doc_id IS NOT NULL)
            SELECT doc_id, CAST(i - 1 AS INT) AS sent_id,
                   arr[CAST(i AS INT)] AS sentence
            FROM s, LATERAL unnest(generate_series(1, len(arr))) AS g(i)""")
def text_sentences(spark, sf):
    """Deterministic sentence segmentation (operators/text.
    split_sentences): maximal non-terminator runs plus their trailing
    .!? run, edge-stripped, dense 0-based ids — one RE2-safe regexp
    pass, zero exchanges; the oracle runs the identical pattern."""
    from origami_spark.operators.text import split_sentences

    return split_sentences(_t(spark, sf, "documents"))


# integer bucket-sign counts; the only floats are sqrt of an
# integer and one division, then the shared floor quantization
# -- all exact-IEEE, so weights hash-match bit-for-bit
@gate(f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
              WHERE doc_id IS NOT NULL),
            b AS (
              SELECT doc_id,
                     CAST({_H60.format(x="'b|' || tok")} % 16 AS INT)
                       AS dim_id,
                     CASE WHEN {_H60.format(x="'g|' || tok")} % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM toks),
            c AS (
              SELECT doc_id, dim_id, CAST(SUM(s) AS BIGINT) AS c
              FROM b GROUP BY doc_id, dim_id),
            n AS (
              SELECT doc_id, dim_id, c,
                     CAST(SUM(c * c) OVER (PARTITION BY doc_id)
                          AS BIGINT) AS ss
              FROM c)
            SELECT doc_id, dim_id,
                   floor(c / sqrt(ss) * 1e6 + 0.5) / 1e6 AS weight
            FROM n WHERE c <> 0""")
def text_hash_embedding(spark, sf):
    """Feature-hashing document embeddings (operators/embed.py,
    Weinberger et al. 2009) in sparse form: one row per non-zero
    coordinate, ``weight = bucket-sign-count / sqrt(sum of squares)``
    quantized via the shared floor form.  Every ranking input is an
    integer and the two float ops (IEEE sqrt of an integer, one
    division) are bit-identical across engines, so the gate
    hash-compares the weights exactly.  dim=16 keeps the oracle's
    window tiny; the engine default is 64."""
    from origami_spark.operators.embed import hashed_embedding_rows

    return hashed_embedding_rows(_spread(_t(spark, sf, "documents"), "doc_id"), dim=16)


@gate(f"""
            WITH base AS (
              SELECT doc_id, length(text) AS chars, {_TOKENS} AS t,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS punct_ratio,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
              FROM documents),
            wr AS (
              SELECT *, len(list_filter(t, x -> x IN
                     ('the','a','of','and','to','in','is','on','for','it')))
                     * 1.0 / greatest(len(t), 1) AS stop_ratio
              FROM base)
            SELECT doc_id, CAST(chars AS BIGINT) AS chars, CAST(len(t) AS BIGINT) AS n_tokens,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(digit_ratio, 4) AS digit_ratio,
                   round(stop_ratio, 4) AS stop_ratio,
                   CASE WHEN len(t) >= 20 AND stop_ratio > 0.05 THEN 'high'
                        WHEN len(t) >= 5 THEN 'medium'
                        ELSE 'low' END AS quality
            FROM wr""")
def text_quality(spark, sf):
    return T.quality_score(_t(spark, sf, "documents"))


@gate(f"""
            WITH toks AS (
              SELECT doc_id, lang, {_TOKENS} AS t FROM documents),
            scored AS (
              SELECT doc_id, lang,
                len(list_filter(t, x -> x IN ('the','and','of','to','in'))) AS s_en,
                len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS s_de,
                len(list_filter(t, x -> x IN ('le','la','et','les','des'))) AS s_fr,
                len(list_filter(t, x -> x IN ('el','la','los','que','de'))) AS s_es,
                len(list_filter(t, x -> x IN ('de','shi','le','bu','wo'))) AS s_zh
              FROM toks)
            SELECT doc_id, lang,
                   CASE
                     WHEN s_zh > greatest(s_en, s_de, s_fr, s_es) THEN 'zh'
                     WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                     WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
                     WHEN s_de > s_en THEN 'de'
                     ELSE 'en' END AS pred_lang,
                   CAST(greatest(s_en, s_de, s_fr, s_es, s_zh) AS BIGINT)
                     AS best_score
            FROM scored""")
def text_langid(spark, sf):
    return T.lang_id(_t(spark, sf, "documents"))


@gate(f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [] END AS shingles
              FROM toks)
            SELECT doc_id,
                   CASE WHEN len(shingles) > 0 THEN
                     list_min(list_transform(shingles,
                       s -> {_H60.format(x="s")}))
                   ELSE NULL END AS fp,
                   CAST(len(shingles) AS BIGINT) AS n_shingles
            FROM sh""")
def text_fingerprint(spark, sf):
    return T.fingerprint(_t(spark, sf, "documents"))


@gate(r"""
            WITH u AS (
              SELECT doc_id,
                     'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.COM:443/a/' || CAST(doc_id AS VARCHAR)
                     || '/?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
                     || '#f' AS url
              FROM documents),
            c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS x FROM u),
            c2 AS (SELECT doc_id, regexp_replace(x,
                     '([?&])(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&]*', '\1', 'g') AS x FROM c1),
            c2b AS (SELECT doc_id, regexp_replace(x, '&&+', '&', 'g') AS x FROM c2),
            c3 AS (SELECT doc_id, regexp_replace(x, '\?&', '?', 'g') AS x FROM c2b),
            c4 AS (SELECT doc_id, regexp_replace(x, '[?&]$', '', 'g') AS x FROM c3),
            c5 AS (SELECT doc_id,
                     lower(regexp_extract(x, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
                     || regexp_replace(x, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS x
                   FROM c4),
            c6 AS (SELECT doc_id, regexp_replace(x, '^(https?://)www\.', '\1') AS x FROM c5),
            c7 AS (SELECT doc_id, regexp_replace(x,
                     '^(http://[^/:?#]+):80([/?#]|$)', '\1\2') AS x FROM c6),
            c8 AS (SELECT doc_id, regexp_replace(x,
                     '^(https://[^/:?#]+):443([/?#]|$)', '\1\2') AS x FROM c7),
            c9 AS (SELECT doc_id, regexp_replace(x, '/$', '') AS curl FROM c8)
            SELECT doc_id, curl,
                   regexp_extract(curl, '^https://([^/]+)', 1) AS chost
            FROM c9""")
def text_url_canonical(spark, sf):
    """URL canonicalization for crawl dedup (functions.canonical_url):
    URLs synthesized deterministically from doc_id so the DuckDB oracle
    applies the identical regexp chain to identical inputs."""
    from origami_spark.functions import canonical_url

    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/a/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=x&id="), F.col("doc_id").cast("string"),
        F.lit("#f"),
    )
    curl = canonical_url(url)
    return docs.select(
        "doc_id",
        curl.alias("curl"),
        F.regexp_extract(curl, "^https://([^/]+)", 1).alias("chost"),
    )


def _lines8_cols(decorate: bool = False):
    """Deterministic 8-token line synthesis over the documents corpus
    (it ships without newlines): chunk the shared tokenizer's output
    into 8-word lines.  With ``decorate``, C4-trigger suffixes are
    attached by line index (every 3rd line lacks terminal punctuation,
    every 7th mentions javascript) — mirrored verbatim in the DuckDB
    oracles."""
    toks = T.tokens_col()
    nch = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    seq = F.when(F.size(toks) > 0, F.sequence(F.lit(1), nch)).otherwise(
        F.array().cast("array<int>")
    )
    if not decorate:
        line = lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 8 + 1, 8))  # noqa: E731
    else:
        line = lambda i: F.concat(  # noqa: E731
            F.concat_ws(" ", F.slice(toks, (i - 1) * 8 + 1, 8)),
            F.when(i % 7 == 0, F.lit(" javascript")).otherwise(F.lit("")),
            F.when(i % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        )
    return F.transform(seq, line)


# line-synthesis CTE shared by the clean.py oracles mirrors
# _lines8_cols: 8-token chunks of the shared tokenizer output
@gate(f"""
            WITH {_l8_cte()},
            {_SENT_TX_CTE},
            {_REP_FEATURE_CTES}
            SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
                   dup_line_frac, dup_line_char_frac, top_2gram,
                   top_2gram_frac, dup_5gram_frac
            FROM feat""")
def text_repetition(spark, sf):
    """Gopher-style repetition signals (operators/clean.py) over
    line-synthesized documents plus a deterministic boilerplate line
    (doubled on even doc_ids so dup-line signals are non-trivially
    distributed)."""
    from origami_spark.operators.clean import repetition_stats

    docs = _t(spark, sf, "documents")
    sent = F.lit("\nthe copied boilerplate line")
    text2 = F.concat(
        F.concat_ws("\n", _lines8_cols()),
        sent,
        F.when(F.col("doc_id") % 2 == 0, sent).otherwise(F.lit("")),
    )
    return repetition_stats(docs.select("doc_id", text2.alias("text")))


@gate(rf"""
            WITH {_l8_cte(decorated=True)},
            tx AS (
              SELECT doc_id,
                     array_to_string(lines8, chr(10))
                     || CASE WHEN doc_id % 13 = 0
                             THEN chr(10) || 'lorem ipsum filler' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0
                             THEN chr(10) || 'see {{ config }}' ELSE '' END AS text2
              FROM l8),
            base AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       regexp_split_to_array(text2, chr(10)),
                       x -> regexp_replace(x,
                         '\A[ \t\n\r\f\x0b\xa0]+|[ \t\n\r\f\x0b\xa0]+\z', '', 'g')),
                       x -> x <> '') AS lines,
                     (NOT contains(lower(text2), 'lorem ipsum')
                      AND NOT contains(text2, '{{')) AS page_ok
              FROM tx),
            k AS (
              SELECT doc_id, page_ok, len(lines) AS n_lines,
                     CASE WHEN page_ok THEN
                       list_filter(lines, x ->
                         regexp_matches(x, '[.!?"]$')
                         AND len(list_filter(
                               regexp_split_to_array(lower(x), '[^a-z0-9]+'),
                               w -> w <> '')) >= 3
                         AND NOT contains(lower(x), 'javascript'))
                     ELSE CAST([] AS VARCHAR[]) END AS kept
              FROM base)
            SELECT doc_id, page_ok,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   CAST(n_lines - len(kept) AS BIGINT) AS n_dropped,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text
            FROM k""")
def text_clean_lines(spark, sf):
    """C4-style line filter (operators/clean.py) over decorated
    line-synthesized documents; every 13th doc gains a lorem-ipsum
    line and every 17th a curly brace, tripping the page-level drop."""
    from origami_spark.operators.clean import clean_lines

    docs = _t(spark, sf, "documents")
    text2 = F.concat(
        F.concat_ws("\n", _lines8_cols(decorate=True)),
        F.when(F.col("doc_id") % 13 == 0, F.lit("\nlorem ipsum filler")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\nsee { config }")).otherwise(F.lit("")),
    )
    return clean_lines(docs.select("doc_id", text2.alias("text")))


@gate(r"""
            WITH px AS (
              SELECT doc_id,
                     text || ' contact bob' || CAST(doc_id AS VARCHAR)
                     || '@example.com'
                     || CASE WHEN doc_id % 3 <> 2
                             THEN ' at 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7'
                             ELSE '' END
                     || CASE WHEN doc_id % 2 = 0
                             THEN ' ref 1234567'
                                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                             ELSE '' END AS text3
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text3,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(text3,
                     '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text3, '\b\d{9,}\b')) AS BIGINT)
                     AS n_longnums,
                   regexp_replace(regexp_replace(regexp_replace(text3,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
                     '\b\d{9,}\b', '<NUM>', 'g') AS scrubbed
            FROM px""")
def text_pii_scrub(spark, sf):
    """PII scrubbing (operators/clean.py): e-mail/IPv4/long-digit-run
    masks with per-kind counts, over documents salted with deterministic
    synthetic PII (the corpus itself carries none)."""
    from origami_spark.operators.clean import pii_scrub

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id")
    text3 = F.concat(
        F.col("text"),
        F.lit(" contact bob"), did.cast("string"), F.lit("@example.com"),
        F.when(
            did % 3 != 2,
            F.concat(F.lit(" at 10."), (did % 200).cast("string"), F.lit(".0.7")),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" ref 1234567"), F.lpad((did % 100).cast("string"), 2, "0")),
        ).otherwise(F.lit("")),
    )
    return pii_scrub(docs.select("doc_id", text3.alias("text")))


@gate(f"""
            WITH {_l8_cte()},
            {_SENT_TX_CTE},
            {_REP_FEATURE_CTES},
            gated AS (
              SELECT doc_id, n_tokens,
                     concat_ws(',',
                       CASE WHEN n_tokens < 30 THEN 'too_few_tokens' END,
                       CASE WHEN n_tokens > 80 THEN 'too_many_tokens' END,
                       CASE WHEN mean_len < 3.0 THEN 'mean_len_low' END,
                       CASE WHEN mean_len > 10.0 THEN 'mean_len_high' END,
                       CASE WHEN stop_hits < 2 THEN 'too_few_stopwords' END,
                       CASE WHEN dup_line_frac > 0.12 THEN 'dup_lines' END,
                       CASE WHEN dup_line_char_frac > 0.15 THEN 'dup_line_chars' END,
                       CASE WHEN top_2gram_frac > 0.10 THEN 'top_2gram' END,
                       CASE WHEN dup_5gram_frac > 0.05 THEN 'dup_5grams' END
                     ) AS reasons
              FROM feat)
            SELECT doc_id, n_tokens, (reasons = '') AS keep, reasons
            FROM gated""")
def text_gopher_gate(spark, sf):
    """Composite Gopher-rule gate (operators/clean.py) over the same
    line-synthesized corpus as text_repetition; thresholds tightened so
    every rule fires for part of the corpus (docs span ~8-90 tokens and
    even doc_ids carry a duplicated boilerplate line)."""
    from origami_spark.operators.clean import gopher_gate

    docs = _t(spark, sf, "documents")
    sent = F.lit("\nthe copied boilerplate line")
    text2 = F.concat(
        F.concat_ws("\n", _lines8_cols()),
        sent,
        F.when(F.col("doc_id") % 2 == 0, sent).otherwise(F.lit("")),
    )
    return gopher_gate(
        docs.select("doc_id", text2.alias("text")),
        min_tokens=30,
        max_tokens=80,
        min_stop_hits=2,
        max_dup_line_frac=0.12,
        max_dup_line_char_frac=0.15,
        max_top_2gram_frac=0.10,
        max_dup_5gram_frac=0.05,
    )


@gate(rf"""
            WITH {_l8_cte()},
            {_SENT_TX_CTE},
            pl AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       regexp_split_to_array(text2, chr(10)),
                       x -> regexp_replace(x,
                         '\A[ \t\n\r\f\x0b\xa0]+|[ \t\n\r\f\x0b\xa0]+\z', '', 'g')),
                       x -> x <> '') AS paras
              FROM tx),
            p AS (
              SELECT doc_id, i AS idx, paras[i] AS para
              FROM pl, LATERAL unnest(range(1, len(paras) + 1)) AS r(i)),
            win AS (
              SELECT doc_id, idx, para,
                     count(*) OVER (PARTITION BY para) AS df,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, idx) AS rn
              FROM p),
            flagged AS (
              SELECT doc_id, idx, para, (df < 2 OR rn = 1) AS keep FROM win)
            SELECT d.doc_id,
                   CAST(coalesce(f.n_paras, 0) AS BIGINT) AS n_paras,
                   CAST(coalesce(f.n_dropped, 0) AS BIGINT) AS n_dropped,
                   coalesce(f.kept_text, '') AS kept_text
            FROM documents d
            LEFT JOIN (
              SELECT doc_id, count(*) AS n_paras,
                     sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS n_dropped,
                     string_agg(CASE WHEN keep THEN para END, chr(10)
                                ORDER BY idx) AS kept_text
              FROM flagged GROUP BY doc_id) f USING (doc_id)""")
def dedup_paragraphs(spark, sf):
    """ccnet-style corpus-wide paragraph dedup (operators/dedup.py):
    the line-synthesized corpus plus the boilerplate sentinel gives
    every doc a paragraph shared corpus-wide — only its globally first
    occurrence survives."""
    docs = _spread(_t(spark, sf, "documents"), "doc_id")
    sent = F.lit("\nthe copied boilerplate line")
    text2 = F.concat(
        F.concat_ws("\n", _lines8_cols()),
        sent,
        F.when(F.col("doc_id") % 2 == 0, sent).otherwise(F.lit("")),
    )
    return D.paragraph_dedup(docs.select("doc_id", text2.alias("text")))


@gate(f"""
            WITH toks AS (SELECT {_TOKENS} AS t FROM documents),
            uni AS (
              SELECT w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
            bi AS (
              SELECT t[i] AS w1, t[i+1] AS w2,
                     CAST(count(*) AS BIGINT) AS c_ab
              FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
              GROUP BY 1, 2 HAVING count(*) >= 5),
            v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni)
            SELECT w1, w2, c_ab,
                   CAST((c_ab - 1) * v.v * 1000000 // (u1.c * u2.c)
                        AS BIGINT) AS score_q
            FROM bi
            JOIN uni u1 ON u1.w = bi.w1
            JOIN uni u2 ON u2.w = bi.w2
            CROSS JOIN v""")
def text_phrases(spark, sf):
    """Count-based collocation mining (operators/text.phrase_scores —
    the word2vec phrase-detection score, Mikolov et al. 2013 §4):
    integer ``(c_ab - 1)·V·10^6 div (c_a·c_b)`` over two
    wordcount-shaped aggregations, engine-exact because the score is
    pure count arithmetic (no libm)."""
    from origami_spark.operators.text import phrase_scores

    return phrase_scores(_spread(_t(spark, sf, "documents"), "doc_id"), min_count=5)


@gate("""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM toks GROUP BY 1, 2),
            dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY 1),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     floor(CAST(tf.tf AS DOUBLE)
                           * (ln(CAST(n + 1 AS DOUBLE)
                                 / CAST(dft.df + 1 AS DOUBLE)) + 1)
                           * 1e4 + 0.5) / 1e4 AS score
              FROM tf JOIN dft ON tf.term = dft.term, nd),
            r AS (SELECT doc_id, term, tf, score,
                  CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS BIGINT) AS rk
                  FROM scored)
            SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 5""")
def text_tfidf_topk(spark, sf):
    """Per-document top-5 TF-IDF terms (operators/text.tfidf_topk,
    raw TF x smooth IDF): scores quantized with the portable
    floor(x*1e4+0.5)/1e4 BEFORE ranking so ties break identically in
    both engines."""
    from origami_spark.operators.text import tfidf_topk

    return tfidf_topk(_spread(_t(spark, sf, "documents"), "doc_id"), k=5)
