"""Deterministic sampling and token budgeting for corpus mixing.

Training-data pipelines don't use ``rand()``: a sample must be exactly
reproducible across runs, partitionings, and engines, or downstream
experiments can't be compared.  Everything here keys on the portable
md5-based 60-bit hash (operators/text.py), so the DuckDB oracles
reproduce every selected row bit-identically and a re-run at any
parallelism selects the same documents.

* :func:`hash_sample` — keep a deterministic ``rate`` fraction of docs
  (hash-threshold sampling).  Pure filter: no shuffle, no state.
* :func:`stratified_sample` — per-stratum rates (e.g. downsample
  low-quality, keep all high-quality).  Same pure-filter shape.
* :func:`token_budget` — keep documents, in deterministic hash order,
  until each group's running token total reaches a budget — the
  "mix K tokens from each source" step.  One window shuffle per call,
  partitioned by the group column, so it scales with group count; a
  single global budget over 10^12 docs would serialize one partition —
  for that case run per-source budgets sized by the mixing weights
  (which is what mixture specs describe anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cache
from .text import portable_hash60, tokens_col

__all__ = ["hash_sample", "stratified_sample", "upsample_sources",
           "token_budget", "token_budget_global", "shuffle_order",
           "interleave_sources", "split_assign"]

_SCALE = 1_000_000
# contiguous hash ranges a decomposed prefix sum or rank splits into
_GROUPS = 256


def _bucket() -> F.Column:
    """Deterministic bucket in [0, 1e6) from ('s0', doc id).  NB:
    ``concat`` (not ``concat_ws``) so a NULL id yields a NULL bucket
    and the row filters out — exactly what the DuckDB ``||`` oracle
    computes; concat_ws would silently skip the NULL and keep the
    row on the Spark side only."""
    return F.pmod(
        portable_hash60(F.concat(F.lit("s0|"), F.col("doc_id").cast("string"))),
        F.lit(_SCALE),
    )


def _threshold(rate: float) -> int:
    """Round, don't floor: int(0.3 * 1e6) is 299999 under binary
    floats, which both misses the advertised rate by one bucket and
    breaks parity with an oracle written as the natural literal."""
    return int(round(rate * _SCALE))


def hash_sample(docs: DataFrame, rate: float) -> DataFrame:
    """Keep a deterministic ``rate`` fraction: doc survives iff its
    hash bucket < rate * 1e6, so a re-run selects the same docs."""
    return docs.filter(_bucket() < _threshold(rate))


def stratified_sample(docs: DataFrame, strata_col: str, rates: dict,
                      default_rate: float = 0.0) -> DataFrame:
    """Per-stratum hash sampling: ``rates`` maps stratum value ->
    fraction; unmapped strata use ``default_rate``."""
    thr = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value,
                     F.lit(_threshold(rate))).otherwise(thr)
    return docs.filter(_bucket() < thr)


def upsample_sources(docs: DataFrame, epochs: dict) -> DataFrame:
    """Epoch repetition for mixture building — the published recipe
    when a mixture weight EXCEEDS a source's natural share (Gopher /
    Llama data tables: wikipedia x3 epochs, books x2.35, ...):
    every doc whose ``source`` is ``s`` appears ``floor(epochs[s])``
    times, plus once more for a deterministic ``frac(epochs[s])`` share
    of docs (hash-selected — the :func:`hash_sample` bucket, so the
    fractional epoch is the same docs at any parallelism, and re-runs
    are idempotent).  Sources absent from ``epochs`` are EXCLUDED (a
    mixture spec enumerates its members — the ``interleave_sources``
    convention); an epoch of 0.4 repeats nothing but keeps a 40%
    sample.

    Output: the input columns plus ``epoch`` (int, 0-based copy
    index).  Downstream, ``interleave_sources``/``shuffle_order`` over
    ``(doc_id, epoch)`` spread the copies through the training order.

    Plan shape: a single projection — per-source copy counts resolve
    to a CASE literal, the copy explode is ``explode(sequence(...))``
    on values <= ceil(max epochs), and nothing shuffles at any corpus
    size.
    """
    full = F.lit(None).cast("int")
    thr = F.lit(None).cast("int")
    for value, e in sorted(epochs.items()):
        if e < 0:
            raise ValueError(f"epochs[{value!r}] = {e}: must be >= 0")
        full = F.when(F.col("source") == value, F.lit(int(e))).otherwise(full)
        thr = F.when(F.col("source") == value,
                     F.lit(_threshold(e - int(e)))).otherwise(thr)
    n = full + F.when(_bucket() < thr, 1).otherwise(0)
    # sequence(0, -1) is a DESCENDING [0, -1], not empty (the
    # gram_positions gotcha) — guard the zero-copy case explicitly
    copies = F.when(n >= 1, F.sequence(F.lit(0), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return docs.filter(F.col("source").isin(list(epochs))) \
        .withColumn("epoch", F.explode(copies))


def token_budget(docs: DataFrame, budget_tokens: int,
                 by: str = "source") -> DataFrame:
    """Keep docs in deterministic hash order until each ``by`` group's
    running token total reaches ``budget_tokens``: a doc is kept iff
    the prefix sum *including it* is within budget — a pure prefix
    cut, so the kept set is a deterministic function of the budget
    alone, independent of partitioning and engine.

    The prefix sum is DECOMPOSED exactly like
    :func:`token_budget_global` (VERDICT r3 item 3): a corpus that is
    40% one source must not serialize that source's running sum on one
    window task.  Docs fall into 256 contiguous hash ranges per
    source; a tiny per-(source, group) aggregate + a per-source window
    over 256 rows yields exclusive prefix offsets, which join
    back (broadcast — sources x groups rows; mixture specs name dozens
    of sources, not millions) so every (source, group) computes its own
    parallel within-group running sum.  Value-identical to the serial
    per-source window, which remains the DuckDB-oracle formulation.

    Output: ``doc_id, <by>, n_tokens, cum_tokens`` for kept docs.
    """
    t = docs.select(
        "doc_id",
        by,
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
        _bucket().alias("_b"),
    ).filter(F.col("_b").isNotNull()) \
        .withColumn("_g", F.floor(F.col("_b") * _GROUPS / _SCALE).cast("int"))
    # ^ a NULL id must be EXCLUDED, not sorted: Spark's window would
    # order it NULLS FIRST (consuming budget invisibly) while DuckDB
    # sorts NULLS LAST (its cum is still non-NULL, so it could even be
    # kept) — both the operator and its oracle filter NULL ids so the
    # pair encodes one function.  The frame feeds both the group
    # aggregate and the prefix join — cache it or tokenization runs
    # twice per document.
    t = cache(t)
    gs = t.groupBy(by, "_g").agg(F.sum("n_tokens").alias("gsum"))
    wp = (
        Window.partitionBy(by)
        .orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # eqNullSafe: a NULL source is a legitimate window partition in the
    # serial form (both engines group NULLs together) — a plain join
    # key would silently drop it
    pre = gs.withColumn(
        "prefix", (F.sum("gsum").over(wp) - F.col("gsum")).cast("bigint")
    ).select(F.col(by).alias("_pby"), F.col("_g").alias("_pg"), "prefix")
    wg = (
        Window.partitionBy(by, "_g")
        .orderBy("_b", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NB: deliberately the prefix-cut rule, not greedy first-fit —
    # first-fit needs the keep decision inside the running sum, which
    # is stateful; the prefix cut is one windowed sum, identical in
    # both engines, and wastes at most one document of budget
    cum = (
        t.join(
            F.broadcast(pre),
            F.col(by).eqNullSafe(F.col("_pby")) & (F.col("_g") == F.col("_pg")),
        )
        .withColumn(
            "cum_tokens",
            (F.col("prefix") + F.sum("n_tokens").over(wg)).cast("bigint"),
        )
    )
    return (
        cum.filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", by, "n_tokens", "cum_tokens")
    )


def token_budget_global(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Corpus-wide token budget without a single-partition window.

    A naive global prefix cut would sort every doc in ONE window
    partition — a serial bottleneck at 10^12 docs.  Instead the
    deterministic hash order is decomposed: docs fall into 256
    contiguous hash ranges; a tiny aggregate (one row per group)
    yields each group's token sum, a window over that 256-row table
    yields exclusive prefix offsets, and the offsets broadcast back so
    each group computes its own parallel within-group running sum.
    ``global cum = group prefix + within-group cum`` — identical to the
    serial prefix sum, engine-portable, and every wide operation is
    either per-group (parallel) or over 256 rows.

    Output: ``doc_id, n_tokens, cum_tokens`` for kept docs (prefix cut,
    same contract as :func:`token_budget`).
    """
    cum = _global_cum(docs)
    return (
        cum.filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "n_tokens", "cum_tokens")
    )


def _global_cum(docs: DataFrame) -> DataFrame:
    """The decomposed corpus-wide running token sum shared by
    :func:`token_budget_global` and :func:`pack_sequences`:
    ``(doc_id, n_tokens, cum_tokens)`` where cum_tokens is the
    inclusive prefix sum in the deterministic (hash, id) order,
    computed with NO single-partition window (256 contiguous hash
    ranges + a 256-row offset aggregate + parallel within-range
    windows)."""
    t = docs.select(
        "doc_id",
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
        _bucket().alias("_b"),
    ).filter(F.col("_b").isNotNull()) \
        .withColumn("_g", F.floor(F.col("_b") * _GROUPS / _SCALE).cast("int"))
    # NULL ids excluded for the same reason as token_budget (a NULL
    # group would land in every real group's prefix via NULLS FIRST).
    # The frame feeds BOTH the group aggregate and the window join —
    # cache it (the caller's cache_scope() releases it) or
    # tokenization+hashing runs twice per document
    t = cache(t)
    gs = t.groupBy("_g").agg(F.sum("n_tokens").alias("gsum"))
    wp = (
        Window.orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = gs.withColumn(
        "prefix", (F.sum("gsum").over(wp) - F.col("gsum")).cast("bigint")
    ).select("_g", "prefix")
    wg = (
        Window.partitionBy("_g")
        .orderBy("_b", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.join(F.broadcast(pre), "_g")
        .withColumn(
            "cum_tokens",
            (F.col("prefix") + F.sum("n_tokens").over(wg)).cast("bigint"),
        )
    )


def pack_sequences(docs: DataFrame, seq_len: int) -> DataFrame:
    """Greedy concatenation packing — the training-loader "example
    packing" step (concatenate docs, cut the token stream every
    ``seq_len``; T5/GPT-style, cf. Krell et al. 2021, public): each
    doc is assigned the training sequence where its FIRST token lands.

    The docs concatenate in the same deterministic (hash, id) shuffle
    order as :func:`token_budget_global` and the assignment is pure
    arithmetic on the decomposed prefix sum — ``pack_id = excl //
    seq_len``, ``pack_offset = excl % seq_len`` where ``excl`` is the
    exclusive prefix — so there is no single-partition window, no
    driver loop, and the packing is reproducible across runs,
    partitionings, and engines.  A doc longer than ``seq_len`` spans
    packs (its continuation packs contain no starting doc); a
    zero-token doc sits at its neighbor's boundary and consumes no
    width.  Output: ``(doc_id, n_tokens, pack_id, pack_offset)``.
    Rows with NULL ids drop (no deterministic position exists)."""
    cum = _global_cum(docs)
    excl = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        "doc_id", "n_tokens",
        F.floor(excl / seq_len).cast("bigint").alias("pack_id"),
        (excl % seq_len).cast("bigint").alias("pack_offset"),
    )


def _hash_order(seed: str) -> F.Column:
    """The full 60-bit deterministic order key (same hash family as
    :func:`_bucket`, unreduced — mod 1e6 would collide constantly at
    corpus scale and make ordering id-dominated)."""
    return portable_hash60(
        F.concat(F.lit(seed + "|"), F.col("doc_id").cast("string")))


def shuffle_order(docs: DataFrame, seed: str = "s0") -> DataFrame:
    """Deterministic GLOBAL shuffle position per document — the
    reproducible training-order primitive (epoch ordering must be
    replayable across runs, partitionings, and engines; ``rand()`` is
    none of those).  ``shuffle_pos`` is the 1-based rank in the
    (hash60(seed|id), id) order, computed WITHOUT a single-partition
    window via the same decomposition as :func:`token_budget_global`:
    256 contiguous hash ranges, a 256-row count aggregate for exclusive
    prefix offsets, parallel within-range row_numbers.  Writers wanting
    physical order: ``repartitionByRange('shuffle_pos')`` +
    ``sortWithinPartitions`` — a distributed total order, no serial
    sort.  Rows with NULL ids drop (no deterministic position exists).
    Returns (``doc_id``, shuffle_pos bigint)."""
    t = docs.select("doc_id", _hash_order(seed).alias("_h")) \
        .filter(F.col("_h").isNotNull()) \
        .withColumn("_g",
                    F.floor(F.col("_h") / ((1 << 60) // _GROUPS))
                    .cast("int"))
    t = cache(t)
    gs = t.groupBy("_g").agg(F.count(F.lit(1)).alias("gn"))
    wp = (
        Window.orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = gs.withColumn(
        "prefix", (F.sum("gn").over(wp) - F.col("gn")).cast("bigint")
    ).select("_g", "prefix")
    wg = Window.partitionBy("_g").orderBy("_h", "doc_id")
    return (
        t.join(F.broadcast(pre), "_g")
        .withColumn("shuffle_pos",
                    (F.col("prefix") + F.row_number().over(wg))
                    .cast("bigint"))
        .select("doc_id", "shuffle_pos")
    )


def interleave_sources(docs: DataFrame, weights: dict) -> DataFrame:
    """Deterministic weighted source interleave — the mixture-order
    primitive: each source's docs get a within-source shuffle position
    ``src_pos`` (decomposed per (source, hash-range) exactly like the
    fixed :func:`token_budget`, so one mega-source never serializes a
    window), and an emission key ``emit_key = src_pos / weight``;
    sorting the output by (emit_key, source, id) yields a stream where
    every prefix carries the sources in weight proportion — the
    "sample source s with probability ∝ w_s" training order, made
    deterministic.  Sources ABSENT from ``weights`` are excluded (a
    mixture spec enumerates its members).  The division stays exact
    IEEE in both engines (bigint / double literal), so the oracle
    reproduces emit_key bit-identically.  Returns (``doc_id``,
    ``source``, src_pos bigint, emit_key double)."""
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    t = docs.select(
        "doc_id", "source",
        _hash_order("s0").alias("_h"),
        wmap[F.col("source")].cast("double").alias("_w"),
    ).filter(F.col("_h").isNotNull() & F.col("_w").isNotNull()) \
        .withColumn("_g",
                    F.floor(F.col("_h") / ((1 << 60) // _GROUPS))
                    .cast("int"))
    t = cache(t)
    gs = t.groupBy("source", "_g").agg(F.count(F.lit(1)).alias("gn"))
    wp = (
        Window.partitionBy("source").orderBy("_g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = gs.withColumn(
        "prefix", (F.sum("gn").over(wp) - F.col("gn")).cast("bigint")
    ).select("source", "_g", "prefix")
    wg = Window.partitionBy("source", "_g").orderBy("_h", "doc_id")
    return (
        t.join(F.broadcast(pre), ["source", "_g"])
        .withColumn("src_pos",
                    (F.col("prefix") + F.row_number().over(wg))
                    .cast("bigint"))
        .withColumn("emit_key", F.col("src_pos") / F.col("_w"))
        .select("doc_id", "source", "src_pos", "emit_key")
    )


def split_assign(docs: DataFrame) -> DataFrame:
    """Deterministic train/validation/test assignment — every eval
    pipeline's first step: each doc gets the split whose cumulative
    weight interval (98/1/1) contains its hash bucket, so the
    assignment is a pure function of the id — stable across runs,
    partitionings, engines, and corpus GROWTH (a new doc never moves
    an old one, the property a random split lacks).  Returns input +
    ``split``.  Zero exchanges — a scan-time projection at any scale."""
    # the module's NULL-id convention (_bucket): a NULL id yields a
    # NULL bucket and the row FILTERS OUT — without this, the
    # when-chain's otherwise() would silently dump every undefined-
    # identity row into the last split
    b = _bucket()
    return docs.filter(F.col("doc_id").isNotNull()).withColumn(
        "split", F.when(b < _threshold(0.98), "train")
        .when(b < _threshold(0.99), "val").otherwise("test"))


def reservoir_sample(docs: DataFrame, k: int = 10, by: str = "lang",
                     id_col: str = "doc_id",
                     seed: str = "s0") -> DataFrame:
    """Deterministic fixed-SIZE sample per stratum — the batch analog
    of per-group reservoir sampling: rank every row by the portable
    hash of (seed, id) inside its stratum and keep the k smallest.
    Unlike :func:`hash_sample` (fixed RATE), the output size is exact
    (min(k, stratum size)), re-runs are identical at any parallelism,
    and changing ``seed`` draws an independent sample.

    Two-level decomposed rank (the host_cap recipe): phase 1 ranks
    within (stratum, hash mod 32) so a Zipf mega-stratum never sorts
    on one task; phase 2 ranks the <= 32*k survivors.  A stratum's k
    hash-smallest rows all survive phase 1 (each is hash-smallest
    within its own salt too), so the result is value-identical to the
    single-window form — which is the DuckDB-oracle formulation.

    Output: the input columns plus ``rk`` (1..k within stratum)."""
    h = portable_hash60(
        F.concat(F.lit(seed + "|"), F.col(id_col).cast("string")))
    w1 = Window.partitionBy(by, "_salt").orderBy(
        F.asc("_h"), F.asc(id_col))
    w2 = Window.partitionBy(by).orderBy(F.asc("_h"), F.asc(id_col))
    return (
        docs.withColumn("_h", h)
        .withColumn("_salt", F.pmod(F.col("_h"), F.lit(32)))
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= k)
        .drop("_h", "_salt", "_rk1")
    )
