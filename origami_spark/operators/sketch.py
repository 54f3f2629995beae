"""Deterministic streaming sketches: KMV distinct count, count-min
frequency estimation, Bloom membership.

Corpus curation at 100 TB needs cardinality and frequency answers that
a full groupBy cannot afford (distinct urls per host across a crawl,
heavy-hitter n-grams for contamination screens, membership probes
against a blocklist too large to broadcast raw).  Spark ships
approx_count_distinct / Bloom joins, but their HLL/XXH64 internals are
not reproducible in another engine — and this repo's correctness gate
is *cross-engine hash equality*.  These sketches are therefore built
from the repo's portable md5-based 60-bit hash and integer/exact-IEEE
arithmetic only, so DuckDB re-derives every register bit-for-bit:

* :func:`kmv_distinct` — K-minimum-values distinct-count estimator
  (Bar-Yossef et al. 2002; the unbiased (k-1)·M/h_k form of Beyer et
  al., SIGMOD 2007).  The k smallest hashes are found with the
  repo's decomposed two-level top-k (no single global sort task).
* :func:`countmin_build` / :func:`countmin_estimate` — count-min
  sketch (Cormode & Muthukrishnan 2005): d hash rows × w buckets of
  BIGINT counters; point query = min over the d counters.  Build is
  one wordcount-shaped shuffle over a key space bounded by d·w; the
  sketch itself is a d·w-row relation — broadcastable state, the same
  persistable-artifact pattern as dedup.digest_index.
* :func:`bloom_build` / :func:`bloom_probe` — Bloom filter as a
  relation of set bit positions (≤ m rows); probe is a broadcast join
  counting matched positions (member ⇔ all d present).  No false
  negatives, measured false-positive rate.

Determinism contract: every hash is ``portable_hash60`` (md5 prefix →
BIGINT, identical in Spark and DuckDB); every counter is an integer
sum (associative — partition-order independent); the single division
in the KMV estimate is one exact-IEEE double expression over exactly
representable operands (the bm25_topk precedent), floored to BIGINT.

KMV signatures merge (:func:`kmv_merge`): shards/days persist small
signature relations and the corpus-wide answer is a merge over
signatures, never a re-scan.  The merge is LOSSLESS — the merged
signature is bit-identical to the one built over the concatenated
input — which is the property that lets a 1000-executor job combine
per-partition sketches without any accuracy cliff.

Scale design: KMV shuffles the distinct (group, hash) relation once,
then ranks inside 64 hash sub-groups so no task ever sorts more than
one sub-group (the host_cap/bm25 recipe); count-min's aggregation key
space is d·w regardless of input size (map-side combine collapses
everything else); Bloom build emits ≤ m distinct positions and the
probe side broadcasts them.

Reference parity: origami has no sketch stage (its batch pipeline
never needs cardinality estimates — page-local geometry throughout);
this family extends the engine for crawl-grade curation the way
operators/graph.py and operators/hosts.py do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import portable_hash60

__all__ = [
    "kmv_distinct",
    "kmv_build",
    "kmv_merge",
    "kmv_set_ops",
    "kmv_set_ops_grouped",
    "countmin_build",
    "countmin_estimate",
    "bloom_build",
    "bloom_probe",
    "hist_build",
    "hist_quantile",
    "countmin_topk",
]

# the hash domain of portable_hash60: 15 hex chars = 60 bits.
HASH_DOMAIN = 1 << 60


def _kmv_estimate_col(k: int):
    """``floor((k-1) * 2^60 / kth_hash)`` as one exact-IEEE double
    expression.  (k-1)·2^60 overflows BIGINT for useful k, so the
    division runs in double: both factors are exactly representable
    (k-1 < 2^53; 2^60 is a power of two), the product is exact, the
    int→double conversion of kth and the division are IEEE
    round-to-nearest — bit-identical in Spark and DuckDB."""
    return F.floor(
        F.lit(float(k - 1)) * F.lit(float(HASH_DOMAIN))
        / F.col("kth_hash").cast("double")
    ).cast("bigint")


def kmv_distinct(df: DataFrame, col: str, k: int = 256,
                 by: list[str] | None = None) -> DataFrame:
    """K-minimum-values distinct-count estimate per group.

    Hash every value with the portable 60-bit hash, keep the ``k``
    smallest *distinct* hashes per group; if fewer than k survive the
    count is exact (``n_kept``), else ``est = floor((k-1)·2^60 /
    kth_smallest)`` — the unbiased KMV estimator.  Hash collisions
    merge two values (a one-sided undercount of ~n²/2^61 — negligible
    below ~10^9 distinct per group).

    Output: ``by..., n_kept, kth_hash, est_distinct`` (all BIGINT).

    Scale shape: distinct the RAW values first (map-side partial
    aggregation bounds the shuffle by per-partition vocabulary), hash
    only the survivors, then re-distinct the ≤-vocabulary hash relation
    (hash collisions must still merge for bit-exactness) and run the
    decomposed two-level top-k — rank inside ``pmod(hash, 64)``
    sub-groups first (any global top-k member is its sub-group's top-k
    member under the total hash order), so the final per-group rank
    sees ≤ 64·k rows.  No single task ever sorts a whole group.
    Hashing after the distinct runs the md5 per vocabulary entry, not
    per occurrence — measured 2.5x on a 2.7M-occurrence corpus.
    """
    by = list(by or [])
    vals = _kmv_vals(df, col, by)
    return _kmv_finalize(_kmv_topk(vals, k, by), k, by)


def _kmv_vals(df: DataFrame, col: str, by: list[str]) -> DataFrame:
    """Distinct ``(by..., hash)`` relation: distinct raw values, hash,
    re-distinct (collision merge) — the shared KMV ingest."""
    return (
        df.select(*by, F.col(col).cast("string").alias("_v")).distinct()
        .select(*by, portable_hash60(F.col("_v")).alias("h"))
        .distinct()
    )


def _kmv_topk(vals: DataFrame, k: int, by: list[str]) -> DataFrame:
    """Keep the k smallest hashes per group from a distinct ``(by...,
    h)`` relation, via the decomposed two-level rank over 64 hash
    sub-groups (no task sorts a whole group)."""
    sub = F.pmod(F.col("h"), F.lit(64))
    w1 = Window.partitionBy(*by, "_g").orderBy(F.asc("h"))
    w2 = Window.partitionBy(*by).orderBy(F.asc("h"))
    return (
        vals.withColumn("_g", sub)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .select(*by, "h")
    )


def _kmv_finalize(kept: DataFrame, k: int, by: list[str]) -> DataFrame:
    """Estimate from a k-smallest-hashes signature relation."""
    agg = kept.groupBy(*by).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("h").cast("bigint").alias("kth_hash"),
    )
    return agg.select(
        *by,
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(_kmv_estimate_col(k))
        .cast("bigint")
        .alias("est_distinct"),
    )


def kmv_build(df: DataFrame, col: str, k: int = 256,
              by: list[str] | None = None) -> DataFrame:
    """Build the persistable KMV *signature*: the k smallest distinct
    hashes per group, as a ``(by..., h)`` relation (≤ k rows/group).

    This is the state a 1000-executor crawl persists per shard/day:
    signatures are losslessly mergeable (see :func:`kmv_merge`), so
    corpus-wide cardinality never re-scans history — the same
    persisted-index pattern as dedup.digest_index.
    """
    by = list(by or [])
    return _kmv_topk(_kmv_vals(df, col, by), k, by)


def kmv_merge(sigs: list[DataFrame], k: int = 256,
              by: list[str] | None = None) -> DataFrame:
    """Merge KMV signatures and estimate: union → distinct → keep the
    k smallest per group → the same estimator as :func:`kmv_distinct`.

    Identity (tested bit-for-bit): the k smallest of a union of
    per-shard k-smallest sets equal the k smallest of the union of the
    raw sets — any hash in the true global top-k is in its own shard's
    top-k — so ``kmv_merge(map(kmv_build, shards)) ==
    kmv_distinct(union(shards))`` exactly, not approximately.  That
    associativity is what makes the sketch distributable: shards never
    exchange raw values, only ≤ k hashes per group each.

    Precondition: ``k`` must be ≤ the smallest k the signatures were
    BUILT with (a signature carries no k metadata).  Merging DOWN
    (e.g. k=64 over k=256 signatures) is exact — the union's 64
    smallest are within every shard's 256 smallest; merging UP would
    silently bias ``est_distinct`` low once n_kept exceeds the build
    k, because hashes between the build kth and the requested kth
    were discarded at build time.

    Output: ``by..., n_kept, kth_hash, est_distinct`` (all BIGINT).
    """
    by = list(by or [])
    u = sigs[0]
    for s in sigs[1:]:
        u = u.unionByName(s)
    vals = u.select(*by, "h").distinct()
    return _kmv_finalize(_kmv_topk(vals, k, by), k, by)


def kmv_set_ops(sig_a: DataFrame, sig_b: DataFrame) -> DataFrame:
    """Set-operation estimates from two KMV signatures (Beyer et al.,
    SIGMOD 2007 §4): take the k = 256 smallest distinct hashes of the
    union;
    of those, count ``n_both`` present in BOTH signatures.  Then

    * ``est_union``        — the standard KMV estimator over the union
      signature (exact ``n_kept`` when fewer than k survive);
    * ``jaccard``          — ``n_both / n_kept`` (the union signature
      is a uniform sample of the union, so the fraction landing in the
      intersection is an unbiased Jaccard estimate);
    * ``est_intersection`` — ``(n_both * est_union) div n_kept``.

    This answers "how much vocabulary do two crawls share?" from two
    ≤ k-row signatures — no corpus join, no re-scan; the signatures
    are the same persistable state :func:`kmv_build` emits for
    :func:`kmv_merge`, under the same precondition: 256 ≤ the
    smallest build k.  Portability: counts and the intersection
    estimate are integer arithmetic; ``jaccard`` is one IEEE division
    of two exactly-representable integers — bit-identical in DuckDB.

    Output: ``n_kept, kth_hash, est_union, n_both,
    est_intersection (BIGINT), jaccard (DOUBLE)``.
    """
    a = sig_a.select("h").distinct().withColumn("_a", F.lit(1))
    b = sig_b.select("h").distinct().withColumn("_b", F.lit(1))
    u = a.join(b, "h", "full_outer").select(
        "h",
        F.coalesce(F.col("_a"), F.lit(0)).alias("_a"),
        F.coalesce(F.col("_b"), F.lit(0)).alias("_b"),
    )
    return _kmv_setops_finalize(u, 256)


def kmv_set_ops_grouped(sig: DataFrame, side_col: str, a_val, b_val,
                        k: int = 256) -> DataFrame:
    """:func:`kmv_set_ops` from ONE grouped signature relation —
    ``kmv_build(..., by=[side_col])`` computes BOTH sides' signatures
    in a single corpus pass, and this derives the membership flags by
    grouping on ``h`` instead of a two-relation join.

    Value-identical at k = 256 to ``kmv_set_ops(sig.filter(side=a),
    sig.filter(side=b))`` (within the union's k smallest, membership
    in a side's top-k equals membership in the side: the union's kth
    hash is <= each side's kth), but the two-filter form scans the
    corpus once per side while this scans it once total — the shape
    that matters when the "corpus" is a crawl, not a parquet sample.

    Rows with other ``side_col`` values are filtered out (so a
    20-source grouped signature answers any pairwise overlap) —
    without the filter their hashes would enter the union top-k with
    both flags 0 and deflate every estimate.
    """
    sig = sig.filter(F.col(side_col).isin(a_val, b_val))
    u = sig.groupBy("h").agg(
        F.max(F.when(F.col(side_col) == a_val, 1).otherwise(0))
        .alias("_a"),
        F.max(F.when(F.col(side_col) == b_val, 1).otherwise(0))
        .alias("_b"),
    )
    return _kmv_setops_finalize(u, k)


def _kmv_setops_finalize(u: DataFrame, k: int) -> DataFrame:
    """Shared tail: union top-k over the flagged hash relation, then
    the integer/one-IEEE-division estimate arithmetic."""
    kept = _kmv_topk(u.select("h"), k, []).join(u, "h")
    agg = kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("h").cast("bigint").alias("kth_hash"),
        F.sum((F.col("_a") * F.col("_b")).cast("bigint"))
        .cast("bigint").alias("n_both"),
    )
    est_union = (
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(_kmv_estimate_col(k))
        .cast("bigint")
    )
    out = agg.select("n_kept", "kth_hash",
                     est_union.alias("est_union"), "n_both")
    return out.select(
        "n_kept", "kth_hash", "est_union", "n_both",
        F.expr("(n_both * est_union) div n_kept")
        .cast("bigint").alias("est_intersection"),
        (F.col("n_both").cast("double")
         / F.col("n_kept").cast("double")).alias("jaccard"),
    )


def _cm_bucket(item_col, row_col, width: int):
    """Row-seeded bucket: ``hash60('cm<row>|' || item) mod width``.
    Seeding the hash with the row index gives d independent hash
    functions from the one portable primitive."""
    return F.pmod(
        portable_hash60(
            F.concat(F.lit("cm"), row_col.cast("string"), F.lit("|"),
                     item_col.cast("string"))
        ),
        F.lit(width),
    )


def countmin_build(df: DataFrame, col: str, width: int = 1024,
                   depth: int = 4,
                   weight_col: str | None = None) -> DataFrame:
    """Build a count-min sketch over a column of items.

    Output: ``(row, bucket, cnt)`` — at most ``depth·width`` rows, the
    persistable sketch state (mergeable across shards by summing cnt:
    integer addition is the sketch's union).

    The aggregation key space is d·w regardless of corpus size, so the
    shuffle after map-side combine is bounded by d·w·partitions rows.
    """
    w = (F.col(weight_col).cast("bigint") if weight_col
         else F.lit(1).cast("bigint"))
    rows = F.array(*[F.lit(i) for i in range(depth)])
    return (
        df.select(F.col(col).alias("item"), w.alias("w"))
        .select("item", "w", F.explode(rows).alias("row"))
        .select("row", _cm_bucket(F.col("item"), F.col("row"), width)
                .alias("bucket"), "w")
        .groupBy("row", "bucket")
        .agg(F.sum("w").cast("bigint").alias("cnt"))
    )


def countmin_estimate(sketch: DataFrame, items: DataFrame, col: str,
                      width: int = 1024, depth: int = 4) -> DataFrame:
    """Point-query the sketch for each item: ``est = min over the d
    counters`` (CM guarantee: est ≥ true count; est ≤ true + εN with
    ε = e/width at δ = e^-depth).

    The sketch side (≤ d·w rows) is broadcast; the item side never
    shuffles beyond its own groupBy, whose key space is the probe set.
    Items whose bucket was never touched read counter 0.
    """
    rows = F.array(*[F.lit(i) for i in range(depth)])
    probes = (
        items.select(F.col(col).alias("item")).distinct()
        .select("item", F.explode(rows).alias("row"))
        .select("item", "row",
                _cm_bucket(F.col("item"), F.col("row"), width)
                .alias("bucket"))
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
             .cast("bigint").alias("cm_est"))
    )


def _bloom_pos(item_col, i_col, m: int):
    """i-th bit position for an item: ``hash60('bf<i>|' || item) mod
    m`` — the same seeded-hash construction as count-min."""
    return F.pmod(
        portable_hash60(
            F.concat(F.lit("bf"), i_col.cast("string"), F.lit("|"),
                     item_col.cast("string"))
        ),
        F.lit(m),
    )


def bloom_build(df: DataFrame, col: str, m: int = 8192,
                d: int = 5) -> DataFrame:
    """Bloom filter over a key column, as a relation of set bit
    positions.

    Output: ``(pos)`` — distinct, ≤ m rows.  The relational form keeps
    the filter mergeable (UNION = bitwise OR) and persistable like any
    stage table; at m ≤ a few million the probe side broadcasts it.
    """
    idx = F.array(*[F.lit(i) for i in range(d)])
    return (
        # distinct keys first: the d position hashes run once per key,
        # not once per occurrence, and the final position distinct is
        # unchanged (set positions of distinct keys == of all rows)
        df.select(F.col(col).alias("item")).distinct()
        .select("item", F.explode(idx).alias("i"))
        .select(_bloom_pos(F.col("item"), F.col("i"), m).alias("pos"))
        .distinct()
    )


def bloom_probe(bloom: DataFrame, df: DataFrame, col: str,
                m: int = 8192, d: int = 5) -> DataFrame:
    """Membership probe: a candidate is a member iff ALL d of its bit
    positions are set.  No false negatives (every inserted key probes
    the exact positions it set); false positives at the classic
    ``(1 - e^{-dn/m})^d`` rate, measured in the tests.

    Output: ``item, is_member`` (is_member BIGINT 0/1 —
    integer for gate-hash portability).

    The bloom relation is broadcast; the candidate side incurs one
    groupBy on its own key only.
    """
    idx = F.array(*[F.lit(i) for i in range(d)])
    probes = (
        df.select(F.col(col).alias("item"))
        .select("item", F.explode(idx).alias("i"))
        .select("item",
                _bloom_pos(F.col("item"), F.col("i"), m).alias("pos"))
    )
    marked = probes.join(
        F.broadcast(bloom.select("pos").withColumn("_set", F.lit(1))),
        "pos", "left")
    return (
        marked.groupBy("item")
        .agg(F.sum(F.coalesce(F.col("_set"), F.lit(0))).alias("_hits"))
        .select("item",
                (F.col("_hits") == d).cast("bigint").alias("is_member"))
    )


def hist_build(df: DataFrame, col: str, lo: float, hi: float,
               bins: int = 1024, by: list[str] | None = None) -> DataFrame:
    """Fixed-range equi-width histogram — the mergeable quantile
    sketch (merge = summing counts, like count-min).  Spark's exact
    ``percentile`` buffers every value per group in one aggregation
    state, which does not survive a 10^9-row group; a histogram caps
    state at ``bins`` counters and prices the answer honestly (error
    <= one bin width, tested).

    ``bin = clamp(floor((x - lo) * bins / (hi - lo)), 0, bins-1)`` —
    one exact-IEEE double expression, engine-identical; out-of-range
    values clamp into the edge bins.

    Output: ``by..., bin, cnt`` (cnt BIGINT; <= bins rows per group
    after the one bounded-key-space aggregation).
    """
    by = list(by or [])
    raw = F.floor(
        (F.col(col).cast("double") - F.lit(float(lo)))
        * F.lit(float(bins)) / F.lit(float(hi) - float(lo))
    ).cast("bigint")
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw))
    return (
        df.select(*by, b.alias("bin"))
        .groupBy(*by, "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def hist_quantile(hist: DataFrame, q_num: int, q_den: int,
                  lo: float, hi: float, bins: int = 1024,
                  by: list[str] | None = None) -> DataFrame:
    """Quantile estimate from a histogram: the smallest bin whose
    cumulative count reaches ``ceil(q_num/q_den * N)`` (the rank is
    exact integer arithmetic — no float threshold), reported as that
    bin's upper edge.  True quantile is inside the bin, so the error
    is <= one bin width by construction.

    The cumulative window runs over <= ``bins`` rows per group — the
    sketch, not the corpus — so a single-partition-per-group window is
    the *correct* shape here, not a skew hazard.

    Output: ``by..., q_num, q_den, bin, est`` (est double: the bin
    upper edge in value units).
    """
    by = list(by or [])
    w = Window.partitionBy(*by).orderBy("bin") if by else \
        Window.partitionBy().orderBy("bin")
    totals = Window.partitionBy(*by) if by else Window.partitionBy()
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", F.sum("cnt").over(totals))
    )
    thr = F.expr(f"(n * {q_num} + {q_den} - 1) div {q_den}")
    return (
        cum.filter(F.col("cum") >= thr)
        .groupBy(*by)
        .agg(F.min("bin").cast("bigint").alias("bin"))
        .select(
            *by,
            F.lit(q_num).cast("bigint").alias("q_num"),
            F.lit(q_den).cast("bigint").alias("q_den"),
            "bin",
            (F.lit(float(lo)) + (F.col("bin") + 1).cast("double")
             * F.lit((float(hi) - float(lo))) / F.lit(float(bins)))
            .alias("est"),
        )
    )


def countmin_topk(sketch: DataFrame, items: DataFrame, col: str,
                  k: int = 10, width: int = 1024, depth: int = 4) -> DataFrame:
    """Heavy hitters from a count-min sketch: estimate every candidate
    item (:func:`countmin_estimate` — sketch broadcast, probe side
    groupBy bounded by the candidate set) and keep the global top-k by
    (estimate DESC, item ASC).

    The rank is the two-level decomposed top-k (the host_cap recipe):
    phase 1 ranks within one of 32 hash salts of the item so no task
    ever sorts the full candidate set; phase 2 ranks the <= 32*k
    survivors.
    CM guarantees est >= true count, so every true heavy hitter whose
    count clears the epsilon-N noise floor survives — the candidate
    set can be the full distinct-item relation at any corpus size.

    Output: ``(item, cm_est, rk)``."""
    est = countmin_estimate(sketch, items, col, width, depth)
    w1 = Window.partitionBy("_salt").orderBy(
        F.desc("cm_est"), F.asc("item"))
    w2 = Window.partitionBy().orderBy(F.desc("cm_est"), F.asc("item"))
    return (
        est.withColumn(
            "_salt",
            F.pmod(portable_hash60(F.concat(F.lit("hh|"), F.col("item"))),
                   F.lit(32)))
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("item", "cm_est", "rk")
    )
