"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB: every method is candidate-generation-by-equality-join
(hash bucket / LSH band / simhash band) so the expensive comparison only
runs inside buckets — never an O(n^2) cross join.  The only cross join
in this module is the small-scale *verification* used by the oracle
checks at sf<=0.01.

All hashes are the portable 60-bit md5 hash (operators/text.py), so the
DuckDB oracles reproduce results bit-identically.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cache
from .text import portable_hash60, shingles_expr, tokens_col

def content_digest(col) -> F.Column:
    """THE content-identity digest for exact dedup — batch
    (exact_duplicates) and streaming (streaming.ingest.stream_exact_dedup)
    must share this expression or a streamed landing zone stops
    agreeing with batch dedup over the same corpus."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def ccnet_normalize(col) -> F.Column:
    """ccnet's dedup normalization (Wenzek et al. 2020 §3.1): lower-
    case, strip digits, strip punctuation, collapse whitespace — the
    identity under which trivially-differing re-serves (timestamps,
    view counters, case) hash EQUAL, catching the duplicate class a
    raw-byte digest misses.  The punctuation class is the explicit
    ASCII range set (Java ``\\p{Punct}`` and RE2 ``[[:punct:]]``
    disagree outside ASCII; an explicit class is engine-identical);
    accent folding is deliberately omitted — there is no translation
    table both engines share."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[0-9]+", "")
    c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]+", "")
    return F.trim(F.regexp_replace(c, "[ \t\n\r\f]+", " "))


def exact_duplicates(docs: DataFrame, min_count: int = 2,
                     normalized: bool = False) -> DataFrame:
    """Hash-groupBy exact dedup: one row per content digest with the
    keeper (min doc_id) and the member count.  Map-side partial agg, one
    shuffle on the digest.  min_count=2 -> duplicates only; min_count=1
    -> the full digest table (what a dedup job joins back against).
    ``normalized=True`` digests :func:`ccnet_normalize`'d text instead
    of raw bytes (the ccnet recipe)."""
    key = (content_digest(ccnet_normalize("text")) if normalized
           else content_digest("text"))
    return (
        docs.select("doc_id", key.alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_count)
    )


def digest_index(corpus: DataFrame) -> DataFrame:
    """The persistable EXACT-dedup index — the digest analog of
    :func:`signature_index`: one row per distinct content digest with
    the corpus keeper (min id), ``(digest, keeper)``.  At 100 TB a new
    crawl batch must not re-digest the whole corpus; build this once
    per corpus snapshot (one shuffle on the digest, map-side partial
    agg) and probe each arriving batch with :func:`incremental_exact`.
    Note on pruning: because digests are uniform hashes, ANY
    nontrivial batch touches essentially every digest range, so
    partitioning the index by a digest prefix buys nothing (and
    Spark's dynamic partition pruning would not fire off the
    full-digest join anyway) — the honest per-batch cost is one full
    index scan with ZERO shuffle, amortized by accumulating arrivals
    into larger probe batches."""
    return (
        corpus.select("doc_id", content_digest("text").alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keeper"))
    )


def incremental_exact(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental exact dedup of a batch against a prebuilt
    :func:`digest_index`: ``(doc_id, digest, keep boolean, dup_of
    bigint)`` — a batch row keeps iff its digest is absent from the
    index AND it is the batch's min id for that digest; dropped rows
    carry the id they duplicate (the corpus keeper, else the batch
    keeper; NULL on kept rows).  Survivors' ``(digest, doc_id)`` rows
    are what the caller appends to the index (idempotent under replay:
    re-appending the same digest keeps min(keeper)).

    Plan shape: the batch digests once (one shuffle bounded by the
    BATCH, never the corpus), and the index side joins against the
    broadcast batch digest set — the 100-TB index is scanned but
    never shuffled (see :func:`digest_index` on why digest-prefix
    partition pruning cannot help a uniform-hash probe).
    The hit list re-aggregates min(keeper) so an APPEND-ONLY index
    (the only maintainable kind at scale: survivors are appended, the
    per-digest min is resolved at read time, compaction is optional)
    yields the same decisions as a freshly grouped one; the aggregate
    is bounded by the batch's digest count."""
    b = cache(
        batch.select("doc_id", content_digest("text").alias("digest")))
    bmin = cache(
        b.groupBy("digest").agg(F.min("doc_id").alias("bkeep")))
    hits = (
        index.join(F.broadcast(bmin.select("digest")), "digest")
        .groupBy("digest").agg(F.min("keeper").alias("keeper"))
    )
    return (
        b.join(bmin, "digest")
        .join(F.broadcast(hits), "digest", "left")
        .select(
            "doc_id",
            "digest",
            (F.col("keeper").isNull()
             & (F.col("doc_id") == F.col("bkeep"))).alias("keep"),
            F.coalesce(
                "keeper",
                F.when(F.col("doc_id") != F.col("bkeep"), F.col("bkeep")),
            ).alias("dup_of"),
        )
    )


def _shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) distinct word-n-gram shingles."""
    t = docs.select("doc_id", tokens_col().alias("toks"))
    return (
        t.select("doc_id", F.explode(shingles_expr("toks", n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """n-gram Jaccard pairs >= threshold via an inverted-index join.

    Inverted-index join on shingle (equality, shuffle on shingle) ->
    per-pair intersection counts -> sizes joined in -> Jaccard.  The
    join cost is sum of df^2 per shingle, so ONE ubiquitous shingle (a
    stopword trigram shared by 10^6 docs) makes one quadratic bucket on
    a hot key.  ``max_df`` is the classic document-frequency cutoff:
    shingles with df > max_df are dropped *before* the self-join,
    bounding every bucket at max_df^2 (tests/test_dedup.py proves the
    bound on a corpus where one shingle hits every doc).  Sizes keep
    counting ALL shingles, so the reported jaccard is a lower bound that
    ignores only no-signal shingles; pairs whose overlap is carried
    entirely by dropped hot shingles disappear — by construction those
    share nothing discriminative.  max_df=None keeps the exact
    semantics; at web scale pair this with minhash banding below as the
    pre-filter."""
    sh = cache(_shingles(docs, n))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    joinable = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle")
    pairs = (
        joinable.alias("a")
        .join(joinable.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def minhash_signatures(docs: DataFrame, n: int = 3, k: int = 16) -> DataFrame:
    """(doc_id, sig: array of k minhashes).  Hash family: portable
    md5-hash of (i || shingle) — the standard k-permutation approximation
    (shingle->minhash per MMDS ch.3, public algorithm)."""
    sh = _shingles(docs, n)
    exploded = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
        "shingle",
    ).select(
        "doc_id",
        "i",
        portable_hash60(F.concat_ws("|", F.col("i").cast("string"), "shingle")).alias("h"),
    )
    per_i = exploded.groupBy("doc_id", "i").agg(F.min("h").alias("mh"))
    return per_i.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mh"))), lambda s: s["mh"]
        ).alias("sig")
    )


def minhash_signatures_kernel(docs: DataFrame, n: int = 3,
                              k: int = 16) -> DataFrame:
    """Arrow-kernel form of ``minhash_signatures`` — bit-identical output,
    none of the (doc x shingle x k) explode+shuffle volume.

    The relational form shuffles k rows per (doc, shingle) through a
    groupBy — correct, and kept as the DuckDB-shaped oracle — but at
    10^12 documents the signature computation dominated the round-1
    bench (10.2 s of 24.3 s).  Here each Arrow batch computes its docs'
    signatures locally (tokenize -> distinct shingles -> min over the
    same md5-based hash family), exactly the pattern that cut the
    hyperplane-LSH path 27x.  Docs with fewer than n tokens produce no
    shingles and are omitted, matching the relational form."""
    import hashlib
    import re

    import pandas as pd

    token_re = re.compile(r"[^a-z0-9]+")

    def kern(batches):
        for pdf in batches:
            ids, sigs = [], []
            # shingle-hash memo: common shingles repeat across the batch
            memo: dict = {}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in token_re.split((text or "").lower()) if t]
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                }
                sig = [None] * k
                for s in shingles:
                    hs = memo.get(s)
                    if hs is None:
                        hs = [
                            int(
                                hashlib.md5(f"{i}|{s}".encode()).hexdigest()[:15],
                                16,
                            )
                            for i in range(k)
                        ]
                        memo[s] = hs
                    for i in range(k):
                        if sig[i] is None or hs[i] < sig[i]:
                            sig[i] = hs[i]
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    src = docs.select("doc_id", "text")
    # parquet splits can hold the whole corpus in one partition (text
    # compresses well); rebalance so the CPU-bound kernel parallelizes
    # (same rationale as pipeline.parse_stage)
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(n_parts, "doc_id").mapInPandas(
        kern, schema="doc_id bigint, sig array<bigint>"
    )


def minhash_lsh_candidates(docs: DataFrame, n: int = 3, k: int = 16,
                           bands: int = 4,
                           min_sig_agreement: float | None = None,
                           max_bucket: int | None = None) -> DataFrame:
    """LSH banding: docs sharing any band of minhashes become a candidate
    pair (shingle -> minhash -> band -> bucket equality join).

    Signatures come from the Arrow kernel, asserted bit-identical to
    the pure-relational ``minhash_signatures`` in tests/test_dedup.py,
    and ride along in the ``signature_index`` rows the pairs are built
    from, so verification reads them off each pair with no re-join.

    ``min_sig_agreement`` VERIFIES candidates before returning them: the
    fraction of agreeing minhash components is an unbiased Jaccard
    estimate (MMDS ch.3), so e.g. 0.5 keeps only pairs estimated >= 0.5
    similar.  Raw banding output (None) is a candidate set with false
    positives — one shared band out of `bands` — and must never be used
    directly as a deletion list.

    ``max_bucket`` caps the quadratic blowup of a hot band bucket (a
    boilerplate cluster of m near-identical docs otherwise yields
    m(m-1)/2 pairs): buckets larger than the cap emit STAR pairs —
    every member against the bucket's min doc_id — i.e. m-1 edges that
    keep the duplicate GROUP connected, which is what the keep-one
    dedup consumer needs.  A star edge can fail pairwise verification
    where some other pairing would pass, so the cap is for the
    connected-component consumer, not for exhaustive pair listing;
    None (default) keeps exact all-pairs semantics, each pair emitted
    once by :func:`_band_pairs`.  The capped path emits a pair once
    per shared band, so it dedupes after verifying.  Residual skew
    below the cap is AQE's job — tests/test_skew.py plants a hot
    bucket and asserts the adaptive skew-join split actually fires."""
    idx = cache(signature_index(docs, n, k, bands))
    if max_bucket is None:
        # every band's bucket as its signature slice: equal slices are
        # exactly equal bucket strings
        width = k // bands
        idx = idx.withColumn("keys", _keys(
            [f"slice(sig, {j * width + 1}, {width})" for j in range(bands)]))
    pairs = _band_pairs(idx, None, max_bucket)
    cols = [F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")]
    if min_sig_agreement is not None:
        pairs = (pairs.withColumn("sig_agreement", _sig_agreement())
                 .filter(F.col("sig_agreement") >= min_sig_agreement))
        cols.append("sig_agreement")
    out = pairs.select(*cols)
    return out if max_bucket is None else out.distinct()


def _band_cols(item: str, keys: list, *payload: str) -> list:
    """The select list that turns one row per item into
    :func:`_band_pairs` rows: the ``item`` id, its ``payload`` columns,
    the item's bucket in every band (``keys``: one SQL expression per
    band) and one row per band with its ``bucket``."""
    return [item, *payload, _keys(keys).alias("keys"),
            F.expr(f"posexplode(array({', '.join(keys)})) AS (band, bucket)")]


def _keys(keys: list) -> F.Column:
    """An item's bucket in every band, one struct field per band, so
    the band count is part of the schema.  SQL text, not Column
    expressions: building a Column costs a JVM round trip per node."""
    return F.expr("struct(" + ", ".join(
        f"{k} AS `{i}`" for i, k in enumerate(keys)) + ")")


def _band_pairs(a: DataFrame, b: DataFrame | None,
                max_bucket: int | None) -> DataFrame:
    """The one LSH band-pair join every near-dup and top-k operator
    pairs through.  Rows hold one (item, band) each, as
    :func:`_band_cols` lays them out: the item id first (same name on
    both sides), then ``band``, ``bucket`` and payload columns in any
    order.  Returns ``(id_a, id_b, <p>_a…, <p>_b…)`` with both sides'
    payload carried (signature, hash, embedding), so no caller re-joins
    to verify.  ``b=None`` pairs ``a`` with itself (``id_a < id_b``);
    otherwise every ``a`` row meets every ``b`` row of its (band,
    bucket) with ``id_a != id_b`` — wrap ``b`` in ``F.broadcast`` when
    it is a small query or benchmark side.

    Rows that carry ``keys`` (see :func:`_keys`) emit each pair exactly
    once, at its first shared band: a joined row survives only when no
    band before its own has equal keys on both sides.  That is the
    per-band emission followed by a cross-band ``distinct``, without
    shuffling the per-band copies (OPTIMIZATION_r06: a 2.5 GB exchange
    at sf1.0), and the test compiles with the join stage.  Rows without
    ``keys`` emit a pair once per shared band and the caller dedupes: a
    persisted index may hold only some of a doc's bands (the streaming
    sink caps appends per bucket), where the first shared band's row
    can be missing.

    ``max_bucket`` (self-join only) caps hot buckets: a (band, bucket)
    holding more rows than the cap emits star pairs instead, its min
    id against every other member; the hub's payload comes from the
    same aggregate as the count (``min`` over ``(id, payload…)``
    structs orders by id first).  A star edge in an earlier capped
    bucket is not the pair's edge, so first-band emission would lose
    pairs here: this path ignores ``keys`` and the caller dedupes after
    verifying."""
    item = a.columns[0]
    payload = [c for c in a.columns[1:] if c not in _BAND_COLS]

    def pairs(x, y, keep):
        cond = keep(F.col(f"a.{item}"), F.col(f"b.{item}"))
        if "keys" in x.columns:
            cond &= F.expr("NOT (" + " OR ".join(
                f"(band > {i} AND a.keys.`{f}` = b.keys.`{f}`)"
                for i, f in enumerate(x.schema["keys"].dataType.names)) + ")")
        cols = [F.col(f"a.{item}").alias("id_a"),
                F.col(f"b.{item}").alias("id_b")]
        for side, frame in (("a", x), ("b", y)):
            cols += [F.col(f"{side}.{c}").alias(f"{c}_{side}")
                     for c in frame.columns if c not in (item, *_BAND_COLS)]
        return (x.alias("a").join(y.alias("b"), ["band", "bucket"])
                .filter(cond).select(*cols))

    if b is not None:
        return pairs(a, b, operator.ne)
    if max_bucket is None:
        return pairs(a, a, operator.lt)
    stats = a.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(item, *payload)).alias("_hub"))
    rows = a.join(stats, ["band", "bucket"])
    small = rows.filter(F.col("_n") <= max_bucket).drop(
        "_n", "_hub", "keys")
    star = (
        rows.filter((F.col("_n") > max_bucket)
                    & (F.col(item) != F.col(f"_hub.{item}")))
        .select(F.col(f"_hub.{item}").alias("id_a"), F.col(item).alias("id_b"),
                *[F.col(f"_hub.{c}").alias(f"{c}_a") for c in payload],
                *[F.col(c).alias(f"{c}_b") for c in payload])
    )
    return pairs(small, small, operator.lt).unionByName(star)


_BAND_COLS = ("band", "bucket", "keys")


def _sig_agreement() -> F.Column:
    """Fraction of agreeing minhash components between the ``sig_a``
    and ``sig_b`` signature columns, rounded BEFORE any threshold filter
    (the oracle-portability rule) — an unbiased Jaccard estimate (MMDS
    ch.3).  k is the signature's own length.  One shared expression so
    the full-corpus and incremental verification paths can never drift
    apart."""
    agree = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m)).cast("double") / F.size("sig_a")
    )
    return F.round(agree, 4)


def signature_index(docs: DataFrame, n: int = 3, k: int = 16,
                    bands: int = 4) -> DataFrame:
    """The PERSISTABLE near-dup index: one row per (doc, band) with the
    LSH bucket key (the band's minhash slice, comma-joined) and the full
    signature — ``(doc_id, band, bucket, sig)``.  At 100 TB a new crawl
    batch must not recompute the whole corpus's signatures: write this
    once (per corpus snapshot), then dedup each arriving batch's own
    index rows with ``incremental_candidates`` / ``incremental_keep``,
    appending the survivors' rows.  Stored as a table bucketed on
    (band, bucket), the incremental join reads the corpus side with NO
    exchange — only the new batch shuffles (asserted in
    tests/test_dedup_incremental.py)."""
    rows_per_band = k // bands
    return minhash_signatures_kernel(docs, n, k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id", "band",
        F.concat_ws(
            ",",
            *[
                F.element_at("sig", F.col("band") * rows_per_band + j + 1)
                .cast("string")
                for j in range(rows_per_band)
            ],
        ).alias("bucket"),
        "sig",
    )


def incremental_candidates(batch_index: DataFrame, index: DataFrame,
                           min_sig_agreement: float | None = None,
                           max_bucket: int | None = None) -> DataFrame:
    """Near-dup candidates TOUCHING a new batch only: ``batch_index``
    is the batch's own ``signature_index`` rows, ``index`` the corpus's.
    Returns ``(doc_a, doc_b, kind)`` where ``kind='corpus'`` pairs an
    indexed doc (doc_a) with a batch doc (doc_b), and ``kind='batch'``
    pairs two batch docs (doc_a < doc_b).  Banding is per-doc
    deterministic, so the union of both kinds equals the pairs a
    full-corpus ``minhash_lsh_candidates`` run would emit restricted to
    pairs touching the batch (asserted in tests) — the corpus×corpus
    quadrant is exactly the work the index amortizes away.
    ``min_sig_agreement`` verifies pairs from the carried signatures
    (same estimator as minhash_lsh_candidates), appending a
    ``sig_agreement`` column.  A re-crawled doc_id (present in both the
    index and the batch) pairs with itself only if contents still
    collide — callers wanting keep-newest semantics should digest-dedup
    first (streaming/corpus.py does).  ``batch_index`` is read by both
    joins: pass it checkpointed (the streaming sink signs each batch
    once for the dedup and the index append).

    ``max_bucket`` caps the BATCH side exactly as
    ``minhash_lsh_candidates(max_bucket=...)`` does (the same builder):
    a batch bucket larger than the cap emits star pairs against its
    min batch doc, so a hot bucket arriving in one batch costs O(m)
    pairs, not m(m-1)/2.  The corpus side is never capped here — bound
    it at append time, as the streaming sink does, so verification
    sees every (bounded, diverse) member of a hot bucket."""
    cand = (
        _band_pairs(index, batch_index, None)
        .withColumn("kind", F.lit("corpus"))
        .unionByName(_band_pairs(batch_index, None, max_bucket)
                     .withColumn("kind", F.lit("batch")))
        # no first-band emission here: an index can hold two signature
        # sets for one re-crawled doc_id, and only some of a doc's
        # bands (append caps), so dedupe before verifying
        .dropDuplicates(["id_a", "id_b", "kind"])
    )
    cols = [F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
            "kind"]
    if min_sig_agreement is None:
        return cand.select(*cols)
    return (
        cand.withColumn("sig_agreement", _sig_agreement())
        .filter(F.col("sig_agreement") >= min_sig_agreement)
        .select(*cols, "sig_agreement")
    )


def incremental_keep(new_docs: DataFrame, batch_index: DataFrame,
                     index: DataFrame,
                     min_sig_agreement: float | None = 0.5,
                     max_bucket: int | None = None) -> DataFrame:
    """The incremental dedup DECISION: rows of ``new_docs`` (keyed by
    ``doc_id``) surviving against the corpus ``index`` and each other,
    given ``batch_index``, the ``signature_index`` rows of
    ``new_docs``.  It applies the SAME transitive cluster rule the
    batch pipeline uses (components.keep_one_per_component): connected
    components over ALL ``incremental_candidates`` pairs — corpus and
    batch edges together.  A component containing any indexed doc
    keeps its corpus copy, so every batch member drops (including one
    whose only link to the corpus runs THROUGH another dropped batch
    doc — chain corpus~A, A~B drops both A and B, matching 'a chain is
    ONE cluster'); a corpus-free component keeps exactly its min-id
    batch doc.  Defaults verify candidates (sig agreement >= 0.5); pass
    ``min_sig_agreement=None`` only when the index was built from
    already-verified duplicates.

    Corpus nodes enter the component graph REMAPPED to a disjoint id
    space (-(id)-1; ids must be non-negative, which the 60-bit hash
    space guarantees): a re-crawled url shares its doc_id with its own
    OLD index rows, and without the remap the batch doc would inherit
    every component edge the old content's signatures created — new,
    unrelated content under a re-crawled url would drop because the
    STALE copy near-dups something.  With the remap, the old copy's
    edges taint only the remapped corpus node; the batch doc's fate
    follows its own signatures alone (same-url keep-newest remains
    compaction's job, per the streaming contract)."""
    from .components import connected_components

    cand = cache(incremental_candidates(
        batch_index, index, min_sig_agreement=min_sig_agreement,
        max_bucket=max_bucket))

    def _nonneg(c):
        # loud guard: a negative batch id would be indistinguishable
        # from a remapped corpus node and silently corrupt the keep
        # decision — fail instead (evaluated per edge row, no extra job)
        return F.when(
            c < 0,
            F.raise_error(F.lit(
                "incremental_keep requires non-negative doc ids "
                "(the 60-bit hash space)")).cast("bigint"),
        ).otherwise(c)

    edges = cand.select(
        F.when(F.col("kind") == "corpus", -F.col("doc_a") - 1)
        .otherwise(_nonneg(F.col("doc_a"))).alias("doc_a"),
        _nonneg(F.col("doc_b")).alias("doc_b"),
    )
    comp = connected_components(edges)
    tainted = comp.filter(F.col("doc_id") < 0).select("component").distinct()
    batch_nodes = comp.filter(F.col("doc_id") >= 0)
    drop = (
        batch_nodes.join(tainted, "component", "semi").select("doc_id")
        .unionByName(
            batch_nodes.join(tainted, "component", "left_anti")
            .filter(F.col("doc_id") != F.col("component"))
            .select("doc_id"))
    )
    return new_docs.join(drop, "doc_id", "left_anti")


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over token hashes (Charikar 2002, public).

    Pure relational formulation: explode (token x bit), sum +/-1 votes,
    pack bits — stays in codegen; the packing is an aggregate over a
    small (doc x bit) frame."""
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    toks = toks.select("doc_id", portable_hash60(F.col("tok")).alias("h"))
    votes = (
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
            "h",
        )
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.expr("CASE WHEN (shiftright(h, cast(bit as int)) & 1) = 1 "
                       "THEN 1 ELSE -1 END")
            ).alias("vote")
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN vote > 0 "
                   "THEN shiftleft(cast(1 as bigint), cast(bit as int)) "
                   "ELSE cast(0 as bigint) END")
        ).alias("simhash")
    )


def simhash_kernel(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Arrow-kernel form of ``simhash`` — bit-identical, without the
    (token x bit) explode through a shuffle.

    Per doc: token counts (every token *instance* votes, like the
    relational explode), one portable md5 hash per distinct token
    (memoized across the batch — the corpus vocabulary repeats heavily),
    weighted +/-1 votes per bit via one small matmul, integer bit-pack.
    All integer math, so parity with the relational form/DuckDB oracle
    is exact."""
    import hashlib
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd

    token_re = re.compile(r"[^a-z0-9]+")
    bit_idx = np.arange(bits, dtype=np.int64)

    def kern(batches):
        for pdf in batches:
            ids, hashes = [], []
            memo: dict = {}  # token -> (+1/-1 per bit) int64 array
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in token_re.split((text or "").lower()) if t]
                if not toks:
                    continue  # explode emits nothing for empty docs
                counts = Counter(toks)
                pm = np.empty((len(counts), bits), dtype=np.int64)
                w = np.empty(len(counts), dtype=np.int64)
                for j, (tok, c) in enumerate(counts.items()):
                    row = memo.get(tok)
                    if row is None:
                        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                        row = (((h >> bit_idx) & 1) * 2 - 1)
                        memo[tok] = row
                    pm[j] = row
                    w[j] = c
                votes = w @ pm  # (bits,)
                ids.append(doc_id)
                hashes.append(int(((votes > 0).astype(np.int64) << bit_idx).sum()))
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    src = docs.select("doc_id", "text")
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(n_parts, "doc_id").mapInPandas(
        kern, schema="doc_id bigint, simhash bigint"
    )


def _bit_bands(h: str, bits: int, bands: int) -> list:
    """The band keys of an integer hash column: ``bands`` slices of
    ``bits // bands`` bits each, lowest first.  Any two hashes within
    hamming ``bands - 1`` share a band (pigeonhole), which is what
    makes banded hamming recall exact up to that distance."""
    width = bits // bands
    mask = (1 << width) - 1
    return [f"shiftright({h}, {j * width}) & {mask}" for j in range(bands)]


def simhash_near_dups(docs: DataFrame, bits: int = 32, bands: int = 4,
                      max_hamming: int = 3) -> DataFrame:
    """Banded simhash near-dup pairs: any equal band (pigeonhole for
    hamming <= bands-1) -> candidate; the true hamming distance
    verifies each pair inside the join stage.  Returns ``(doc_a, doc_b,
    hamming)`` with doc_a < doc_b.  The hashes are cached: they feed
    both sides of the self-join, and the kernel reads every doc."""
    rows = cache(simhash_kernel(docs, bits)).select(*_band_cols(
        "doc_id", _bit_bands("simhash", bits, bands), "simhash"))
    return (
        _band_pairs(rows, None, None)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
                .cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def substring_fingerprints(docs: DataFrame, window: int = 64,
                           k: int = 16,
                           all_positions: bool = False,
                           max_positions: int = 16) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003,
    public): per document, hash every `k`-char gram, then keep the
    minimum hash of each sliding window of ``w = window - k + 1``
    consecutive grams.  The winnowing guarantee is *alignment-free*: any
    substring of length >= ``window`` shared by two documents contains a
    full gram window in both, whose minimum hash — hence the gram
    achieving it — is selected in both, at ANY pair of start offsets.
    (A stride-aligned slicer misses copies whose offsets differ mod the
    stride; this does not.)

    Returns (doc_id, gram, pos): the distinct fingerprint grams per doc
    with each gram's earliest occurrence offset (0-based) — or, with
    ``all_positions=True``, the first ``max_positions`` occurrence
    positions of each selected gram (what span removal needs: a passage
    repeated within one doc must anchor at every copy, or the later
    copies survive removal).  The per-(doc, gram) cap bounds the anchor
    self-join on pathological repetitive text — an 'ababab...' page
    would otherwise contribute occ^2 anchors per pair — while a gram
    recurring beyond the cap is in practice inside one contiguous
    repetitive region that maximal extension from ANY of its anchors
    already covers.  Selection is by hash, but the *gram string* is
    what downstream joins equate, so a hash collision can never
    fabricate a match.

    Scale shape: the per-char gram explode is ~len rows per doc through
    ONE shuffle (window-min over doc_id), then fingerprint density drops
    to ~2/(w+1) of positions — the paper's bound — so everything after
    the window-min is sparse.  Only (doc_id, pos, h) transits the sort;
    gram strings stay on the un-sorted branch and rejoin by hash."""
    w = window - k + 1
    src = docs.select("doc_id", "text")
    # parquet can hold the whole corpus in one split; pre-partition on
    # doc_id so (a) the gram explode + md5 parallelizes and (b) the
    # window-min reuses this partitioning instead of adding an exchange
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    grams = src.repartition(n_parts, "doc_id").filter(
        F.length("text") >= window
    ).select(
        "doc_id",
        F.length("text").cast("bigint").alias("len"),
        F.explode(F.sequence(F.lit(0), F.length("text") - k)).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "len",
        F.col("pos").cast("bigint").alias("pos"),
        F.substring("text", F.col("pos") + 1, F.lit(k)).alias("gram"),
    ).withColumn("h", portable_hash60(F.col("gram")))
    grams = cache(grams)  # feeds the window-min AND the join-back
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    # valid winnowing windows are the full ones: start pos <= len - window
    selected = (
        grams.select("doc_id", "len", "pos", "h")
        .withColumn("mh", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("len") - window)
        .select("doc_id", F.col("mh").alias("h"))
        .distinct()
    )
    joined = grams.join(selected, ["doc_id", "h"])
    if all_positions:
        pw = Window.partitionBy("doc_id", "gram").orderBy("pos")
        return (
            joined.select("doc_id", "gram", "pos")
            .withColumn("rn", F.row_number().over(pw))
            .filter(F.col("rn") <= max_positions)
            .drop("rn")
        )
    return joined.groupBy("doc_id", "gram").agg(F.min("pos").alias("pos"))


def substring_fingerprints_kernel(docs: DataFrame, window: int = 64,
                                  k: int = 16,
                                  all_positions: bool = False,
                                  max_positions: int = 16) -> DataFrame:
    """Arrow-kernel form of ``substring_fingerprints`` — bit-identical
    output (same md5-based hash, same window-min selection, same
    min-pos-per-gram), none of the per-char explode / window-sort /
    join-back volume.

    Per doc, entirely batch-local: hash every k-gram (md5 memoized
    across the batch — web boilerplate repeats grams heavily), sliding
    window minima via one vectorized numpy pass, emit only the sparse
    fingerprint rows (~2/(w+1) of positions).  The relational form
    stays as the DuckDB-shaped oracle; tests assert the two produce
    identical rows."""
    import hashlib

    import numpy as np
    import pandas as pd

    w = window - k + 1

    def kern(batches):
        for pdf in batches:
            # per-BATCH memo: boilerplate grams repeat heavily within a
            # batch, but an unbounded cross-batch dict would grow to one
            # entry per distinct gram in the partition — O(partition
            # chars) of Python heap on a multi-GB text partition
            memo: dict = {}
            doc_ids, grams, poss = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                n = len(text)
                if n < window:
                    continue
                hs = np.empty(n - k + 1, dtype=np.int64)
                for i in range(n - k + 1):
                    g = text[i : i + k]
                    h = memo.get(g)
                    if h is None:
                        h = int(
                            hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        memo[g] = h
                    hs[i] = h
                # window minima over starts 0..n-window (always >= 1)
                wins = np.lib.stride_tricks.sliding_window_view(hs, w)
                sel = np.unique(wins[: n - window + 1].min(axis=1))
                # all grams whose hash is selected; earliest pos per
                # gram, or every occurrence in all_positions mode
                if all_positions:
                    # positions ascend; cap per gram mirrors the
                    # relational row_number <= max_positions
                    counts: dict = {}
                    for i in np.flatnonzero(np.isin(hs, sel)):
                        g = text[i : i + k]
                        c = counts.get(g, 0)
                        if c >= max_positions:
                            continue
                        counts[g] = c + 1
                        doc_ids.append(doc_id)
                        grams.append(g)
                        poss.append(int(i))
                else:
                    seen: dict = {}
                    for i in np.flatnonzero(np.isin(hs, sel)):
                        g = text[i : i + k]
                        if g not in seen:  # positions ascend
                            seen[g] = int(i)
                    for g, p in seen.items():
                        doc_ids.append(doc_id)
                        grams.append(g)
                        poss.append(p)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "gram": grams, "pos": poss})

    src = docs.select("doc_id", "text")
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(n_parts, "doc_id").mapInPandas(
        kern, schema="doc_id bigint, gram string, pos bigint")


def substring_dup_pairs(docs: DataFrame, window: int = 64,
                        k: int = 16,
                        max_df: int | None = None) -> DataFrame:
    """Exact repeated-substring detection between documents — the
    "deduplicate exact substrings, not just whole docs" operator of
    training-data pipelines (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", public).

    Candidate generation is an equality join on winnowing fingerprint
    grams (``substring_fingerprints`` — alignment-free, unlike the
    paper's suffix array only in that match granularity is the `k`-gram,
    not the maximal match), verified by exact gram equality, with the
    shared-fingerprint count and each side's earliest fingerprint
    offset.  Any shared substring >= ``window`` chars is guaranteed to
    produce a pair regardless of its offsets in either doc.  ``max_df``
    drops boilerplate fingerprints shared by more than max_df docs
    before the self-join (same hot-key bound as ``ngram_jaccard_pairs``
    — at web scale one cookie-banner gram must not form a quadratic
    bucket).

    Fingerprints come from the Arrow kernel, asserted bit-identical to
    the pure-relational ``substring_fingerprints`` (the oracle form) in
    tests/test_dedup.py."""
    fp = cache(substring_fingerprints_kernel(docs, window, k))
    if max_df is not None:
        rare = (
            fp.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("gram")
        )
        # cache the filtered relation too: it feeds BOTH self-join
        # sides, and without this the rare-gram aggregate and the join
        # against it execute twice (the fp cache alone does not cover
        # the joined subtree)
        fp = cache(fp.join(rare, "gram"))
    return (
        fp.alias("a")
        .join(fp.alias("b"),
              (F.col("a.gram") == F.col("b.gram"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("a.pos").alias("a_pos_min"),
            F.min("b.pos").alias("b_pos_min"),
        )
    )


def embedding_near_dups_lsh(emb: DataFrame, threshold: float,
                            planes: int, tables: int) -> DataFrame:
    """Scale path: multi-table random-hyperplane LSH — candidates share
    a bucket in ANY of `tables` independent hash tables; exact cosine
    verify inside buckets only.

    Recall per table is (1 - theta/pi)^planes; L tables lift it to
    1 - (1 - r)^L (e.g. cos 0.95: ~0.46/table -> ~0.99 with 8 tables).
    At 10^12 rows this bucket-equality join is the only viable shape —
    the exact pair join below is the small-scale oracle.

    The signature pass is cached (it feeds both self-join sides) and
    its rows carry the embedding, so :func:`_band_pairs` hands each
    candidate pair, once, with both vectors straight to the
    :func:`~.similarity.pair_cosine` kernel: no join back to ``emb``."""
    from .similarity import hyperplane_buckets, pair_cosine

    # table t uses planes [t*planes, (t+1)*planes) of one coefficient
    # stream -> independent tables, still fully deterministic/portable
    rows = cache(hyperplane_buckets(emb, planes, tables)).select(
        *_band_cols("vec_id", [f"buckets[{t}]" for t in range(tables)],
                    "embedding"))
    pairs = _band_pairs(rows, None, None)
    return (
        pair_cosine(pairs, "embedding_a", "embedding_b")
        .select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"),
                F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Cosine >= threshold pairs.  Small-scale exact form: every pair
    (vec_id inequality join) through the
    :func:`~.similarity.pair_cosine` kernel; the scale path is
    :func:`embedding_near_dups_lsh`."""
    from .similarity import pair_cosine

    e = emb.select("vec_id", "embedding")
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
        )
    )
    return (
        pair_cosine(pairs, "ea", "eb")
        .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_spans(docs: DataFrame, window: int = 64, k: int = 16,
                    max_df: int | None = None,
                    min_len: int | None = None,
                    skip_covered: bool = True,
                    max_positions: int = 16) -> DataFrame:
    """The APPLICATION step of exact-substring dedup (Lee et al. 2022):
    locate the maximal duplicated passages so they can be REMOVED from
    all but one copy, not just flagged as pairs.

    Returns (doc_id, start, end): char spans of text in `doc_id` that
    also occur verbatim in an EARLIER document (lower doc_id — the
    keep-first convention of ``exact_duplicates``), maximally extended
    and merged per doc.  ``min_len`` (default: `window`) drops matches
    shorter than the guarantee threshold.

    Shape for 100 TB: winnowing fingerprints give (pair, anchor)
    candidates by equality join — data movement is proportional to the
    number of DUPLICATED passages, not the corpus.  Texts of the two
    sides join in by doc_id; a batch-local kernel extends each anchor
    left/right to the maximal exact match (skipping anchors already
    inside a found span) and merges overlaps.  ``max_df`` bounds
    boilerplate exactly as in ``substring_dup_pairs``.

    Completeness bound: every duplicated passage >= `window` chars is
    detected at its own alignment (the winnowing guarantee) and removal
    never cuts non-duplicated text.  The anchor-skip means a region
    covered by two OVERLAPPING alignments against different parts of
    the earlier doc may keep a tail shorter than `window` beyond the
    first alignment's reach — the surviving duplicate per overlap is
    bounded by the same `window` granularity as the paper's
    minimum-match threshold.  ``skip_covered=False`` extends EVERY
    anchor (no heuristic): slower, order-independent, and exactly the
    semantics the DuckDB oracle reproduces with monotone
    substring-equality counting — the driver's hash gate runs that
    form."""
    import pandas as pd

    min_len = window if min_len is None else min_len
    # all_positions: a passage repeated WITHIN one doc must anchor at
    # every copy — min-pos fingerprints would leave later in-doc copies
    # unanchored and they would survive removal
    fp = cache(
        substring_fingerprints_kernel(docs, window, k, all_positions=True,
                                      max_positions=max_positions))
    if max_df is not None:
        rare = (
            fp.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("gram")
        )
        # cache the filtered relation: it feeds both self-join sides
        # (same rationale as substring_dup_pairs)
        fp = cache(fp.join(rare, "gram"))
    anchors = (
        fp.alias("a")
        .join(fp.alias("b"),
              (F.col("a.gram") == F.col("b.gram"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("a_pos"),
            F.col("b.pos").alias("b_pos"),
        )
    )
    texts_a = docs.select(F.col("doc_id").alias("doc_a"),
                          F.col("text").alias("text_a"))
    texts_b = docs.select(F.col("doc_id").alias("doc_b"),
                          F.col("text").alias("text_b"))
    per_pair = (
        anchors.groupBy("doc_a", "doc_b")
        .agg(F.collect_list(F.struct("a_pos", "b_pos")).alias("anchors"))
        .join(texts_a, "doc_a")
        .join(texts_b, "doc_b")
    )

    def extend(batches):
        for pdf in batches:
            ids, starts, ends = [], [], []
            for doc_b, ta, tb, ancs in zip(
                pdf["doc_b"], pdf["text_a"], pdf["text_b"], pdf["anchors"]
            ):
                found: list = []  # (start, end) in tb, sorted as built
                for anc in sorted(ancs, key=lambda x: x["b_pos"]):
                    pa, pb = int(anc["a_pos"]), int(anc["b_pos"])
                    if skip_covered and any(
                        s <= pb and pb + k <= e for s, e in found
                    ):
                        continue  # anchor already inside a found span
                    left = 0
                    while (pa - left - 1 >= 0 and pb - left - 1 >= 0
                           and ta[pa - left - 1] == tb[pb - left - 1]):
                        left += 1
                    right = k
                    while (pa + right < len(ta) and pb + right < len(tb)
                           and ta[pa + right] == tb[pb + right]):
                        right += 1
                    if left + right >= min_len:
                        found.append((pb - left, pb + right))
                for s, e in found:
                    ids.append(doc_b)
                    starts.append(s)
                    ends.append(e)
            yield pd.DataFrame(
                {"doc_id": ids, "start": starts, "end": ends})

    spans = per_pair.mapInPandas(
        extend, schema="doc_id bigint, start bigint, end bigint")
    # merge overlapping/adjacent spans per doc: classic running-max
    # interval merge over a window (same pattern as drop_contained)
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    merged = (
        spans.distinct()
        .withColumn(
            "prev_max_end",
            F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_group",
            (F.col("prev_max_end").isNull()
             | (F.col("start") > F.col("prev_max_end"))).cast("int"),
        )
        .withColumn("grp", F.sum("new_group").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "grp")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .select("doc_id", "start", "end")
    )
    return merged


def remove_duplicate_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut the given (doc_id, start, end) spans out of each doc's text —
    pure Catalyst: sorted span array folded into substring concat (no
    Python in the apply path).  Docs without spans pass through
    unchanged.  Returns (doc_id, text).

    Robust to overlapping or contained spans (not just the disjoint
    merged output of ``duplicate_spans``): the cursor is monotone
    (``greatest``), so a span nested inside an earlier cut can neither
    re-emit text from inside that cut nor rewind the cursor — the
    effective removal is the union of the given intervals."""
    agg = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("cuts"))
    joined = docs.join(agg, "doc_id", "left")
    folded = F.aggregate(
        F.col("cuts"),
        F.struct(F.lit(0).cast("bigint").alias("pos"),
                 F.lit("").alias("acc")),
        lambda st, c: F.struct(
            F.greatest(st["pos"], c["end"]).alias("pos"),
            F.concat(
                st["acc"],
                F.substring(
                    "text", (st["pos"] + 1).cast("int"),
                    F.greatest(c["start"] - st["pos"],
                               F.lit(0).cast("bigint")).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.substring("text", (st["pos"] + 1).cast("int"),
                        (F.length("text") - st["pos"]).cast("int")),
        ),
    )
    return joined.select(
        "doc_id",
        F.when(F.col("cuts").isNull(), F.col("text"))
        .otherwise(folded).alias("text"),
    )


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    min_df: int = 2) -> DataFrame:
    """Corpus-wide paragraph dedup in the ccnet style (Wenzek et al.
    2020, public): a paragraph (newline-delimited, trimmed, non-empty)
    occurring at least ``min_df`` times across the whole corpus is
    dropped everywhere except its first occurrence, "first" meaning the
    smallest ``(doc_id, position)``.

    Returns one row per input doc: ``doc_id, n_paras, n_dropped,
    kept_text`` (surviving paragraphs rejoined with newlines, original
    order).  Docs whose paragraphs are all dropped keep a row with
    empty ``kept_text``; docs with no paragraphs at all too.

    Scale shape: exactly two exchanges — one window shuffle keyed on
    ``(hash60(para), para)`` (the hash prefix keeps partitioning keys
    fixed-width at 10^12 paragraphs; the full string rides along so
    hash collisions cannot merge distinct paragraphs), then the
    regroup by ``doc_id``.  ``count(*)`` and ``row_number`` share the
    one window partition, and both aggregations are partial-agg
    friendly.  No self-join, no explode beyond the paragraph grain.
    """
    from .clean import _lines_expr

    paras = docs.select(
        "doc_id",
        F.posexplode_outer(_lines_expr(text_col)).alias("idx", "para"),
    )
    h = portable_hash60(F.col("para"))
    w = Window.partitionBy(h, "para")
    flagged = paras.select(
        "doc_id",
        "idx",
        "para",
        (
            (F.count(F.lit(1)).over(w) < min_df)
            | (
                F.row_number().over(
                    w.orderBy("doc_id", "idx")
                )
                == 1
            )
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("para").cast("bigint").alias("n_paras"),
        F.sum(
            F.when(F.col("para").isNotNull() & ~F.col("keep"), 1).otherwise(0)
        ).cast("bigint").alias("n_dropped"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep") & F.col("para").isNotNull(),
                               F.struct("idx", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("kept_text"),
    )


def benchmark_contamination(docs: DataFrame, benchmarks: DataFrame,
                            n: int = 13, min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination check (the n-gram collision test used
    by public LLM training pipelines, e.g. GPT-3 App. C / PaLM: a
    training document is contaminated when it shares at least
    ``min_hits`` word n-grams with any evaluation document).

    Inputs are two (doc_id, text) frames.  Output: one row per training
    doc with ``n_hits`` (distinct shared grams), ``n_benchmarks``
    (distinct eval docs hit) and ``contaminated``.

    Scale shape: eval suites are tiny next to a training corpus, so the
    benchmark gram set is **broadcast** — the corpus side computes its
    grams in place and never shuffles; the only wide operation is the
    final per-doc aggregation of hits, whose input is already filtered
    to colliding grams (a vanishing fraction of the corpus).  Asserted
    in tests/test_plan_quality.py.
    """
    from .text import portable_hash60, shingles_expr, tokens_col

    def grams(frame, id_out):
        t = frame.select(F.col("doc_id").alias(id_out),
                         tokens_col().alias("toks"))
        return t.select(
            id_out,
            F.explode(F.array_distinct(shingles_expr("toks", n))).alias("g"),
        ).select(id_out, portable_hash60(F.col("g")).alias("gh"))

    bench = grams(benchmarks, "bench_id")
    corpus = grams(docs, "doc_id")
    hits = corpus.join(F.broadcast(bench), "gh")
    agg = hits.groupBy("doc_id").agg(
        F.countDistinct("gh").cast("bigint").alias("n_hits"),
        F.countDistinct("bench_id").cast("bigint").alias("n_benchmarks"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            F.coalesce("n_benchmarks", F.lit(0).cast("bigint")).alias("n_benchmarks"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def embedding_contamination(emb: DataFrame, bench: DataFrame,
                            threshold: float, planes: int,
                            tables: int) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding analog of
    :func:`benchmark_contamination` (paraphrased eval leakage that
    n-gram collision misses; the decontamination step of the SemDeDup/
    FineWeb lineage): flag every corpus vector whose cosine to ANY
    benchmark vector clears ``threshold``.

    Output: ``(vec_id, contaminated boolean)`` for every corpus row.

    Scale shape (mirrors the training side of
    :func:`benchmark_contamination` — the corpus never shuffles): both
    sides sign with the shared multi-table hyperplane LSH; the BENCH
    side is small (benchmark suites are thousands of rows) so its
    banded rows broadcast into :func:`_band_pairs`, which hands each
    (corpus, bench) candidate once with both vectors; exact cosine
    verifies candidates only; the flagged-id set (small by assumption)
    broadcasts back for the final flag join.  A benchmark vector id
    present in the corpus is excluded from matching itself (harmless
    when the sets are disjoint, which is real usage).  Recall follows
    the multi-table LSH bound documented on
    :func:`embedding_near_dups_lsh`."""
    from .similarity import hyperplane_buckets, pair_cosine

    def rows(df):
        return hyperplane_buckets(df, planes, tables).select(*_band_cols(
            "vec_id", [f"buckets[{t}]" for t in range(tables)],
            "embedding"))

    pairs = _band_pairs(rows(emb), F.broadcast(rows(bench)), None)
    hits = (
        pair_cosine(pairs, "embedding_a", "embedding_b")
        .filter(F.round("cosine", 4) >= threshold)
        # one flag per corpus vector, however many bench vectors it hits
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        emb.select("vec_id")
        .join(F.broadcast(hits), "vec_id", "left")
        .select("vec_id",
                F.coalesce(F.col("_hit"), F.lit(False)).alias("contaminated"))
    )
