"""Sketch gates: KMV, count-min, Bloom, histograms, heavy hitters."""

from pyspark.sql import functions as F

from gates import _H60, _TOKENS, _spread, _t, gate

# KMV estimate: floor(127 * 2^60 / kth) in one exact-IEEE
# double division (127.0 * 2^60.0 is an exact product; int ->
# double rounding and the division are IEEE-identical in both
# engines — the bm25 fixed-expression-tree precedent).
@gate(f"""
            WITH toks AS (
              SELECT source, unnest({_TOKENS}) AS tok FROM documents),
            h AS (
              SELECT DISTINCT source, {_H60.format(x="tok")} AS h
              FROM toks),
            r AS (
              SELECT source, h,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY h ASC) AS rn
              FROM h),
            agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                     CAST(max(h) AS BIGINT) AS kth_hash
              FROM r WHERE rn <= 128 GROUP BY source)
            SELECT source, n_kept, kth_hash,
                   CAST(CASE WHEN n_kept < 128 THEN n_kept
                        ELSE floor(127.0 * 1152921504606846976.0
                                   / CAST(kth_hash AS DOUBLE))
                        END AS BIGINT) AS est_distinct
            FROM agg""")
def sketch_kmv_distinct(spark, sf):
    """Per-source distinct-token cardinality via the K-minimum-values
    sketch (operators/sketch.py, Bar-Yossef et al. 2002 / Beyer et al.
    2007): keep the 128 smallest portable 60-bit hashes per source,
    estimate = floor(127·2^60 / kth) — one exact-IEEE division over
    exactly-representable operands, so DuckDB reproduces the estimate
    bit-for-bit.  The top-k runs decomposed (64 hash sub-groups) so no
    task sorts a whole source's vocabulary."""
    from origami_spark.operators.sketch import kmv_distinct
    from origami_spark.operators.text import tokens_col

    toks = _spread(_t(spark, sf, "documents"), "doc_id").select(
        "source", F.explode(tokens_col("text")).alias("tok"))
    return kmv_distinct(toks, "tok", k=128, by=["source"])


# the merge identity makes the oracle the WHOLE-corpus KMV —
# matching it hash-for-hash proves merged shard signatures
# equal the unsharded sketch exactly.
@gate(f"""
            WITH toks AS (
              SELECT source, unnest({_TOKENS}) AS tok FROM documents),
            h AS (
              SELECT DISTINCT source, {_H60.format(x="tok")} AS h
              FROM toks),
            r AS (
              SELECT source, h,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY h ASC) AS rn
              FROM h),
            agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                     CAST(max(h) AS BIGINT) AS kth_hash
              FROM r WHERE rn <= 96 GROUP BY source)
            SELECT source, n_kept, kth_hash,
                   CAST(CASE WHEN n_kept < 96 THEN n_kept
                        ELSE floor(95.0 * 1152921504606846976.0
                                   / CAST(kth_hash AS DOUBLE))
                        END AS BIGINT) AS est_distinct
            FROM agg""")
def sketch_kmv_merge(spark, sf):
    """Distributed-merge contract of the KMV sketch (operators/
    sketch.kmv_build / kmv_merge): shard the corpus by
    pmod(doc_id, 3), build one k-smallest-hash signature PER SHARD,
    then merge the three signatures and estimate.  The merge is
    lossless — any hash in the global k-minimum set is in its own
    shard's k-minimum set — so the oracle is the plain whole-corpus
    KMV SQL: cross-engine hash equality of this gate proves the merge
    identity itself, not just the estimator.  This is the shape a
    1000-executor crawl uses: per-shard signatures persisted, corpus
    cardinality = merge over ≤ k-row relations, never a re-scan."""
    from origami_spark.operators.sketch import kmv_build, kmv_merge
    from origami_spark.operators.text import tokens_col

    toks = _spread(_t(spark, sf, "documents"), "doc_id").select(
        "source", F.pmod(F.col("doc_id"), F.lit(3)).alias("_shard"),
        F.explode(tokens_col("text")).alias("tok"))
    # ONE grouped build computes every shard's signature in a single
    # corpus pass (by=[source, _shard] keeps the k smallest per shard
    # exactly as three filtered builds would — the same rows); the
    # merge then unions the per-shard signatures as before.  Three
    # separate builds scanned and exploded the corpus three times.
    sig = kmv_build(toks, "tok", k=96, by=["source", "_shard"])
    return kmv_merge([sig.select("source", "h")], k=96, by=["source"])


# KMV set operations: both half-signatures re-derived, the
# union's 128 smallest hashes flagged by membership, then the
# identical integer/one-IEEE-division arithmetic
@gate(f"""
            WITH tt AS (
              SELECT doc_id % 2 AS half, {_TOKENS} AS t FROM documents),
            toks AS (
              SELECT half, t[i] || ' ' || t[i + 1] AS tok
              FROM tt, LATERAL unnest(range(1, len(t))) AS r(i)
              WHERE len(t) >= 2),
            ha AS (
              SELECT DISTINCT {_H60.format(x="tok")} AS h
              FROM toks WHERE half = 0),
            hb AS (
              SELECT DISTINCT {_H60.format(x="tok")} AS h
              FROM toks WHERE half = 1),
            sa AS (SELECT h FROM (
                     SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
                     FROM ha) WHERE rn <= 128),
            sb AS (SELECT h FROM (
                     SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
                     FROM hb) WHERE rn <= 128),
            u AS (
              SELECT COALESCE(sa.h, sb.h) AS h,
                     CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS ia,
                     CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS ib
              FROM sa FULL OUTER JOIN sb ON sa.h = sb.h),
            kept AS (SELECT * FROM (
                       SELECT *, row_number() OVER (ORDER BY h ASC) AS rn
                       FROM u) WHERE rn <= 128),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_kept,
                     CAST(max(h) AS BIGINT) AS kth_hash,
                     CAST(sum(ia * ib) AS BIGINT) AS n_both
              FROM kept),
            e AS (
              SELECT n_kept, kth_hash, n_both,
                     CAST(CASE WHEN n_kept < 128 THEN n_kept
                          ELSE floor(127.0 * 1152921504606846976.0
                                     / CAST(kth_hash AS DOUBLE))
                          END AS BIGINT) AS est_union
              FROM agg)
            SELECT n_kept, kth_hash, est_union, n_both,
                   CAST((n_both * est_union) // n_kept AS BIGINT)
                     AS est_intersection,
                   CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE)
                     AS jaccard
            FROM e""")
def sketch_kmv_jaccard(spark, sf):
    """Corpus-overlap estimation from signatures alone (operators/
    sketch.kmv_set_ops — Beyer et al. 2007 set operations): split the
    corpus into two halves by pmod(doc_id, 2), build one KMV signature
    per half, and estimate union cardinality / intersection / Jaccard
    of their token vocabularies WITHOUT any corpus-vs-corpus join —
    the two ≤ 128-row signatures are the only inputs to the estimate.
    At crawl scale this is the "how much vocabulary do two
    crawls/days/sources share" answer from persisted signature state.
    The vocabulary is word BIGRAMS (shingles_expr, the dedup feature
    space) so the corpus' distinct count exceeds k and the gate
    exercises the ESTIMATOR arithmetic cross-engine, not just the
    exact below-k path.  Portability: counts and the intersection
    estimate are integer arithmetic; jaccard is one IEEE division of
    exactly-representable integers — DuckDB reproduces every output
    bit-for-bit."""
    from origami_spark.operators.sketch import (kmv_build,
                                                kmv_set_ops_grouped)
    from origami_spark.operators.text import shingles_expr, tokens_col

    # materialize the token array BEFORE shingling (the dsir._features
    # pattern): passing the raw split expression into shingles_expr
    # re-evaluates the split per element_at — measured 6.6 s vs 0.9 s
    # at sf0.1
    t = _spread(_t(spark, sf, "documents"), "doc_id").select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("half"),
        tokens_col("text").alias("_toks"))
    grams = t.select(
        "half", F.explode(shingles_expr("_toks", 2)).alias("tok"))
    sig = kmv_build(grams, "tok", k=128, by=["half"])
    return kmv_set_ops_grouped(sig, "half", 0, 1, k=128)


@gate(f"""
            WITH toks AS (
              SELECT unnest({_TOKENS}) AS tok FROM documents),
            sk AS (
              SELECT CAST(i AS INT) AS row,
                     {_H60.format(x="'cm' || CAST(i AS VARCHAR) || '|' || tok")}
                       % 512 AS bucket,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM toks, LATERAL unnest(range(0, 4)) AS r(i)
              GROUP BY 1, 2),
            top AS (
              SELECT tok AS item, CAST(count(*) AS BIGINT) AS true_cnt
              FROM toks GROUP BY 1
              ORDER BY true_cnt DESC, item ASC LIMIT 20),
            probe AS (
              SELECT item, CAST(i AS INT) AS row,
                     {_H60.format(x="'cm' || CAST(i AS VARCHAR) || '|' || item")}
                       % 512 AS bucket
              FROM top, LATERAL unnest(range(0, 4)) AS r(i)),
            est AS (
              SELECT p.item, CAST(min(s.cnt) AS BIGINT) AS cm_est
              FROM probe p JOIN sk s
                ON s.row = p.row AND s.bucket = p.bucket
              GROUP BY 1)
            SELECT t.item, t.true_cnt, e.cm_est
            FROM top t JOIN est e ON e.item = t.item""")
def sketch_countmin(spark, sf):
    """Count-min frequency sketch (operators/sketch.py, Cormode &
    Muthukrishnan 2005) over the corpus token stream: 4 hash rows x
    512 BIGINT counters, probed for the 20 most frequent tokens.
    Returns (item, true_cnt, cm_est) — the oracle re-derives every
    counter; the overestimate-only guarantee is pytest-checked."""
    from origami_spark.operators.sketch import (countmin_build,
                                                countmin_estimate)
    from origami_spark.operators.text import tokens_col

    toks = _spread(_t(spark, sf, "documents"), "doc_id").select(
        F.explode(tokens_col("text")).alias("tok"))
    # one shared (token, count) aggregation feeds the sketch build
    # (weighted — integer sums make the counters bit-identical to the
    # per-occurrence build), the true counts, AND the probe set; the
    # md5 bucket hash runs per vocabulary entry instead of per
    # occurrence (same restructuring as sketch_heavy_hitters)
    tok_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    sk = countmin_build(tok_counts, "tok", width=512, depth=4,
                        weight_col="true_cnt")
    top = (
        tok_counts
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
        .limit(20)
        .withColumnRenamed("tok", "item")
    )
    est = countmin_estimate(sk, top, "item", width=512, depth=4)
    return top.join(est, "item").select("item", "true_cnt", "cm_est")


@gate(f"""
            WITH pos AS (
              SELECT DISTINCT
                {_H60.format(x="'bf' || CAST(i AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)")}
                  % 4096 AS pos
              FROM orders, LATERAL unnest(range(0, 5)) AS r(i)),
            probe AS (
              SELECT c_custkey,
                {_H60.format(x="'bf' || CAST(i AS VARCHAR) || '|' || CAST(c_custkey AS VARCHAR)")}
                  % 4096 AS pos
              FROM customer, LATERAL unnest(range(0, 5)) AS r(i)),
            hits AS (
              SELECT p.c_custkey,
                     sum(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS hits
              FROM probe p LEFT JOIN pos b ON b.pos = p.pos
              GROUP BY 1)
            SELECT c_custkey,
                   CAST(CASE WHEN hits = 5 THEN 1 ELSE 0 END AS BIGINT)
                     AS is_member
            FROM hits""")
def sketch_bloom(spark, sf):
    """Bloom membership probe (operators/sketch.py): build the filter
    over orders.o_custkey (m=4096 bits, d=5 seeded md5 hashes — the
    bit set is a <= m-row broadcast relation), probe every customer
    key.  No false negatives by construction (pytest-checked); the
    gate checks both engines derive the identical bit set and
    verdicts."""
    from origami_spark.operators.sketch import bloom_build, bloom_probe

    orders = _t(spark, sf, "orders").select("o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey")
    bloom = bloom_build(orders, "o_custkey", m=4096, d=5)
    return (
        bloom_probe(bloom, cust, "c_custkey", m=4096, d=5)
        .withColumnRenamed("item", "c_custkey")
    )


# est mirrors the engine's exact expression order:
# lo + ((bin+1) * (hi-lo)) / bins, all IEEE doubles.
@gate("""
            WITH h AS (
              SELECT o_orderpriority,
                     greatest(0, least(1023,
                       CAST(floor(((o_totalprice - 0.0) * 1024.0)
                                  / 600000.0) AS BIGINT))) AS bin,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM orders GROUP BY 1, 2),
            c AS (
              SELECT o_orderpriority, bin, cnt,
                     sum(cnt) OVER (PARTITION BY o_orderpriority
                                    ORDER BY bin) AS cum,
                     sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
              FROM h),
            qs AS (SELECT * FROM (VALUES (1, 2), (9, 10))
                   AS q(q_num, q_den)),
            sel AS (
              SELECT c.o_orderpriority, q.q_num, q.q_den,
                     min(c.bin) AS bin
              FROM c JOIN qs q
                ON c.cum >= (c.n * q.q_num + q.q_den - 1) // q.q_den
              GROUP BY 1, 2, 3)
            SELECT o_orderpriority,
                   CAST(q_num AS BIGINT) AS q_num,
                   CAST(q_den AS BIGINT) AS q_den,
                   CAST(bin AS BIGINT) AS bin,
                   0.0 + (CAST(bin + 1 AS DOUBLE) * 600000.0) / 1024.0
                     AS est
            FROM sel""")
def sketch_hist_quantile(spark, sf):
    """Mergeable histogram-quantile sketch (operators/sketch.py): 1024
    equi-width BIGINT counters per order priority, p50 + p90 read off
    the cumulative bin edge.  The scale story: Spark's exact
    ``percentile`` buffers EVERY group value in one aggregation state
    (q08's formulation — exact, but not 10^9-rows-per-group safe);
    the histogram caps state at `bins` counters, merges by summing,
    and prices the answer at <= one bin width (pytest-checked)."""
    from origami_spark.operators.sketch import hist_build, hist_quantile

    orders = _t(spark, sf, "orders")
    h = hist_build(orders, "o_totalprice", lo=0.0, hi=600000.0,
                   bins=1024, by=["o_orderpriority"])
    p50 = hist_quantile(h, 1, 2, 0.0, 600000.0, 1024,
                        by=["o_orderpriority"])
    p90 = hist_quantile(h, 9, 10, 0.0, 600000.0, 1024,
                        by=["o_orderpriority"])
    return p50.unionByName(p90)


@gate("""
            WITH toks AS (
              SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '')) AS tok
              FROM documents),
            sk AS (
              SELECT CAST(i AS INT) AS row,
                     CAST(('0x' || substring(md5('cm' || CAST(i AS VARCHAR)
                       || '|' || tok), 1, 15)) AS BIGINT) % 512 AS bucket,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM toks, LATERAL unnest(range(0, 4)) AS r(i)
              GROUP BY 1, 2),
            items AS (SELECT DISTINCT tok AS item FROM toks),
            probe AS (
              SELECT item, CAST(i AS INT) AS row,
                     CAST(('0x' || substring(md5('cm' || CAST(i AS VARCHAR)
                       || '|' || item), 1, 15)) AS BIGINT) % 512 AS bucket
              FROM items, LATERAL unnest(range(0, 4)) AS r(i)),
            est AS (
              SELECT item,
                     CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cm_est
              FROM probe LEFT JOIN sk
                ON probe.row = sk.row AND probe.bucket = sk.bucket
              GROUP BY 1),
            r AS (SELECT item, cm_est,
                  CAST(row_number() OVER (ORDER BY cm_est DESC, item ASC)
                       AS BIGINT) AS rk FROM est)
            SELECT item, cm_est, rk FROM r WHERE rk <= 20""")
def sketch_heavy_hitters(spark, sf):
    """Top-20 heavy hitters from the count-min sketch alone
    (operators/sketch.countmin_topk): every distinct token is probed
    against the 4x512 sketch and ranked by (estimate DESC, item ASC)
    through the two-level decomposed top-k; the oracle re-derives
    every counter and ranks with a single window — value-identical by
    the host_cap argument."""
    from origami_spark.operators.sketch import countmin_build, countmin_topk
    from origami_spark.operators.text import tokens_col

    toks = _spread(_t(spark, sf, "documents"), "doc_id").select(
        F.explode(tokens_col("text")).alias("tok"))
    # pre-aggregate to (token, count) once: the sketch counters are
    # integer sums, so building from weighted distinct tokens is
    # bit-identical to building from the raw stream, while the md5
    # bucket hash runs per VOCABULARY entry instead of per occurrence
    # (guide §2.3 aggregate-before-shuffle; both consumers share the
    # same aggregation subtree, which Spark de-duplicates via
    # ReuseExchange)
    tok_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_w"))
    sk = countmin_build(tok_counts, "tok", width=512, depth=4,
                        weight_col="_w")
    return countmin_topk(sk, tok_counts, "tok", k=20, width=512, depth=4)
