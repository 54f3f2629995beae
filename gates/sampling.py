"""Sampling gates: deterministic functions of the portable hash."""

from gates import _TOKENS, _t, gate

def _global_cum_cte() -> str:
    """The decomposed corpus-wide running token sum (mirror of
    operators/sampling._global_cum), ending at ``c(doc_id, n_tokens,
    cum_tokens)`` — shared by the global-budget and sequence-packing
    oracles so the prefix-sum decomposition cannot drift between
    them."""
    return f"""t AS (
              SELECT doc_id,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substring(md5('s0' || '|'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 1000000 AS b
              FROM documents
              WHERE doc_id IS NOT NULL),
            tg AS (SELECT *, CAST(floor(b * 256 / 1000000) AS INT) AS g FROM t),
            gs AS (SELECT g, sum(n_tokens) AS gsum FROM tg GROUP BY g),
            pre AS (
              SELECT g,
                     CAST(sum(gsum) OVER (ORDER BY g
                          ROWS UNBOUNDED PRECEDING) - gsum AS BIGINT) AS prefix
              FROM gs),
            c AS (
              SELECT tg.doc_id, tg.n_tokens,
                     CAST(pre.prefix + sum(tg.n_tokens) OVER (
                          PARTITION BY tg.g ORDER BY tg.b, tg.doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM tg JOIN pre USING (g))"""


# deterministic sampling bucket shared by the sample_* oracles:
# pmod(hash60('s0|' || doc_id), 1e6) — mirrors sampling._bucket
@gate("""
            SELECT doc_id, source,
                   CASE WHEN CAST(('0x' || substring(
                            md5('s0|' || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 1000000 < 980000 THEN 'train'
                        WHEN CAST(('0x' || substring(
                            md5('s0|' || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 1000000 < 990000 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""")
def sample_split(spark, sf):
    """Deterministic train/val/test assignment
    (operators/sampling.split_assign): 98/1/1 by the portable hash of
    (seed, doc_id) — stable under corpus growth, zero exchanges; the
    oracle applies the identical cumulative thresholds."""
    from origami_spark.operators.sampling import split_assign

    docs = _t(spark, sf, "documents")
    return split_assign(docs.select("doc_id", "source"))


@gate("""
            SELECT doc_id, n_chars FROM documents
            WHERE CAST(('0x' || substring(md5('s0|' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT) % 1000000 < 250000""")
def sample_hash(spark, sf):
    """Deterministic hash-threshold sampling (operators/sampling.py):
    rate 0.25, seed 's0' — the same docs survive on every run, every
    partitioning, and in the DuckDB oracle."""
    from origami_spark.operators.sampling import hash_sample

    docs = _t(spark, sf, "documents")
    return hash_sample(docs, 0.25).select("doc_id", "n_chars")


@gate("""
            SELECT doc_id, source FROM documents
            WHERE CAST(('0x' || substring(md5('s0|' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT) % 1000000
                  < CASE source WHEN 'src1' THEN 1000000
                                WHEN 'src2' THEN 500000
                                WHEN 'src3' THEN 100000
                                ELSE 20000 END""")
def sample_stratified(spark, sf):
    """Per-stratum deterministic sampling over the source column:
    keep all of src1, half of src2, a tenth of src3, 2% elsewhere."""
    from origami_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    return stratified_sample(
        docs, "source", {"src1": 1.0, "src2": 0.5, "src3": 0.1},
        default_rate=0.02,
    ).select("doc_id", "source")


# copy counts are integers (full epochs + one hash-gated
# fractional copy); range(n) is empty at n<=0, mirroring the
# engine's guarded sequence
@gate("""
            WITH c AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                                 WHEN 'src2' THEN 0 ELSE 1 END
                     + CASE WHEN CAST(('0x' || substring(
                              md5('s0|' || CAST(doc_id AS VARCHAR)),
                              1, 15)) AS BIGINT) % 1000000
                            < CASE source WHEN 'src1' THEN 500000
                                          WHEN 'src2' THEN 400000
                                          ELSE 0 END
                            THEN 1 ELSE 0 END AS n
              FROM documents
              WHERE source IN ('src0', 'src1', 'src2', 'src3')),
            e AS (
              SELECT doc_id, source, unnest(range(n)) AS epoch FROM c)
            SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM e""")
def sample_upsample(spark, sf):
    """Epoch-repetition mixture building (operators/sampling.
    upsample_sources — the Gopher/Llama data-table recipe): src0 x3
    epochs, src1 x2.5 (every doc twice + a hash-selected half once
    more), src2 x0.4 (fractional only), src3 x1; all other sources
    excluded.  Pure projection — the oracle unnests the identical
    integer copy counts."""
    from origami_spark.operators.sampling import upsample_sources

    docs = _t(spark, sf, "documents")
    return upsample_sources(
        docs, {"src0": 3.0, "src1": 2.5, "src2": 0.4, "src3": 1.0},
    ).select("doc_id", "source", "epoch")


@gate(f"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substring(md5('s0' || '|'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 1000000 AS b
              FROM documents
              WHERE doc_id IS NOT NULL),
            c AS (
              SELECT doc_id, source, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source
                                         ORDER BY b, doc_id
                                         ROWS UNBOUNDED PRECEDING)
                       AS cum_tokens
              FROM t)
            SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens <= 500""")
def sample_token_budget(spark, sf):
    """Token budgeting per source (operators/sampling.py): 500 tokens
    from each source in deterministic hash order (prefix cut — tight
    enough that the cut bites at every test SF)."""
    from origami_spark.operators.sampling import token_budget

    docs = _t(spark, sf, "documents")
    return token_budget(docs, 500, by="source")


@gate(f"""
            WITH {_global_cum_cte()}
            SELECT doc_id, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 3000""")
def sample_token_budget_global(spark, sf):
    """Corpus-wide token budget (operators/sampling.py): the decomposed
    prefix sum — 256-group offsets + parallel per-group windows — cut
    at 3000 tokens over the whole corpus."""
    from origami_spark.operators.sampling import token_budget_global

    docs = _t(spark, sf, "documents")
    return token_budget_global(docs, 3000)


# same running sum, pack arithmetic instead of a prefix cut
@gate(f"""
            WITH {_global_cum_cte()}
            SELECT doc_id, n_tokens,
                   (cum_tokens - n_tokens) // 512 AS pack_id,
                   (cum_tokens - n_tokens) % 512 AS pack_offset
            FROM c""")
def sample_pack_sequences(spark, sf):
    """Greedy concatenation packing (operators/sampling.pack_sequences):
    docs concatenate in the deterministic shuffle order, the token
    stream cuts every 512 tokens, and each doc is assigned the pack
    where its first token lands (pack_id, pack_offset) — pure
    arithmetic on the same decomposed prefix sum as
    sample_token_budget_global.  The oracle is the SERIAL prefix sum
    with the same floor/mod arithmetic."""
    from origami_spark.operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), seq_len=512)


# the decomposed-rank ops against their SERIAL formulations:
# decomposed == serial is exactly the claim under test
@gate("""
            WITH t AS (
              SELECT doc_id,
                     CAST(('0x' || substring(md5('s0' || '|'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM documents WHERE doc_id IS NOT NULL)
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT)
                     AS shuffle_pos
            FROM t""")
def sample_shuffle(spark, sf):
    """Deterministic global training-order shuffle
    (operators/sampling.shuffle_order): rank in (hash60(seed|id), id)
    order via the decomposed 256-group prefix — no single-partition
    window; the oracle is the SERIAL row_number, proving decomposed ==
    serial."""
    from origami_spark.operators.sampling import shuffle_order

    return shuffle_order(_t(spark, sf, "documents"))


@gate("""
            WITH w(source, wt) AS (
              VALUES ('src0', 2.0), ('src1', 1.0), ('src2', 0.5)),
            t AS (
              SELECT doc_id, source,
                     CAST(('0x' || substring(md5('s0' || '|'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
                     wt
              FROM documents JOIN w USING (source)
              WHERE doc_id IS NOT NULL),
            r AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source
                          ORDER BY h, doc_id) AS BIGINT) AS src_pos,
                     wt
              FROM t)
            SELECT doc_id, source, src_pos, src_pos / wt AS emit_key
            FROM r""")
def sample_interleave(spark, sf):
    """Deterministic weighted source interleave
    (operators/sampling.interleave_sources): within-source shuffle
    positions (decomposed windows) + emit_key = src_pos / weight — the
    mixture-sampling order made exact; sources outside the weight map
    are excluded."""
    from origami_spark.operators.sampling import interleave_sources

    return interleave_sources(
        _t(spark, sf, "documents"),
        {"src0": 2.0, "src1": 1.0, "src2": 0.5})


@gate("""
            WITH h AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substring(md5('s0|'
                       || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       AS hh
              FROM documents),
            r AS (SELECT doc_id, lang,
                  CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY hh ASC, doc_id ASC) AS BIGINT) AS rk
                  FROM h)
            SELECT doc_id, lang, rk FROM r WHERE rk <= 10""")
def sample_reservoir(spark, sf):
    """Deterministic fixed-size per-stratum sample (operators/
    sampling.reservoir_sample — the batch reservoir): 10 docs per
    lang by portable-hash rank, exact output size, identical at any
    parallelism; two-level decomposed rank so a mega-stratum never
    sorts on one task."""
    from origami_spark.operators.sampling import reservoir_sample

    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return reservoir_sample(docs, k=10, by="lang")
