"""Incremental near-dup dedup against a persisted signature index:
pair parity with the full-corpus run, keep semantics, and the
zero-exchange bucketed-index join plan."""

import pyspark.sql.functions as F
import pytest

from origami_spark.operators.dedup import (
    incremental_candidates,
    incremental_keep,
    minhash_lsh_candidates,
    signature_index,
)
from origami_spark.session import cache, cache_scope

_X = ("the quick brown fox jumps over the lazy dog while the rain "
      "in spain falls mainly on the plain and the cat sat on the mat")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(autouse=True)
def _release():
    with cache_scope():
        yield


def _corpus(spark):
    """A corpus with planted near-dups inside and across the split."""
    base = [
        (i, f"unique document number {i} about topic {i * 7} with "
            f"several more words {i * 13} to shingle on")
        for i in range(20)
    ]
    dups = [
        (100, _X),
        (101, _X.replace("rain", "snow")),          # near 100
        (104, _X),                                  # exact dup of 100
        (105, _X.replace("dog", "wolf")),           # near 100
    ]
    return _docs(spark, base + dups)


def test_incremental_pairs_equal_full_run_restricted(spark):
    """Banding is per-doc deterministic, so incremental candidates ==
    the full-corpus candidate pairs restricted to pairs touching the
    batch; the corpus x corpus quadrant is exactly what the index
    amortizes away."""
    docs = _corpus(spark)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    batch_ids = {r[0] for r in batch.select("doc_id").collect()}

    idx = signature_index(corpus)
    inc = incremental_candidates(signature_index(batch), idx)
    got = {frozenset((r["doc_a"], r["doc_b"]))
           for r in inc.collect()}
    kinds = {frozenset((r["doc_a"], r["doc_b"])): r["kind"]
             for r in inc.collect()}

    full = {frozenset((r["doc_a"], r["doc_b"]))
            for r in minhash_lsh_candidates(docs).collect()}
    want = {p for p in full if p & batch_ids}
    assert got == want and want   # non-trivial: planted dups collide
    for p, kind in kinds.items():
        assert kind == ("batch" if p <= batch_ids else "corpus")


def test_incremental_keep_corpus_wins_and_batch_keeps_min(spark):
    corpus = _docs(spark, [
        (1, _X),
        (2, "totally unrelated corpus doc with plenty of words about "
            "gardening and the weather today"),
    ])
    batch = _docs(spark, [
        (10, _X),                                    # dup of corpus 1
        (11, "a brand new batch document with its own words on "
             "sailing ships across the seven seas"),
        (12, "a brand new batch document with its own words on "
             "sailing ships across the seven oceans"),  # near 11
        (13, "entirely distinct content about compiler construction "
             "and register allocation strategies"),
    ])
    kept = sorted(r["doc_id"] for r in
                  incremental_keep(batch, signature_index(batch),
                                   signature_index(corpus)).collect())
    # 10 drops (corpus wins); 11/12 cluster keeps 11; 13 untouched
    assert kept == [11, 13]


def test_chain_through_corpus_dropped_doc_is_one_cluster(spark):
    """The transitive rule: X drops against the corpus; Y is near ONLY
    X (pinned fixture: Y band-collides with X on band 1 while the fake
    corpus index carries X's band-0 row alone).  The chain corpus~X,
    X~Y is ONE cluster whose survivor is the corpus copy — Y must drop
    too, exactly as keep_one_per_component would decide over the same
    observed pairs."""
    batch = _docs(spark, [(0, _X), (1, _X.replace("dog", "wolf"))])
    batch_idx = signature_index(batch)
    x_rows = batch_idx.filter(
        (F.col("doc_id") == 0) & (F.col("band") == 0))
    fake_idx = x_rows.withColumn("doc_id", F.lit(900))
    cand = incremental_candidates(batch_idx, fake_idx)
    assert {(r["doc_a"], r["doc_b"], r["kind"]) for r in cand.collect()} \
        == {(900, 0, "corpus"), (0, 1, "batch")}
    kept = sorted(r["doc_id"] for r in
                  incremental_keep(batch, batch_idx, fake_idx,
                                   min_sig_agreement=None).collect())
    assert kept == []


def test_corpus_free_chain_keeps_min(spark):
    """A within-batch chain with no corpus contact keeps exactly its
    min-id member."""
    batch = _docs(spark, [
        (5, _X),
        (6, _X),
        (7, _X.replace("mat", "rug")),   # collides with _X on bands 2,3
    ])
    empty_idx = signature_index(_docs(spark, [])).limit(0)
    kept = sorted(r["doc_id"] for r in
                  incremental_keep(batch, signature_index(batch),
                                   empty_idx).collect())
    assert kept == [5]


def test_max_bucket_caps_hot_index_and_batch_buckets(spark):
    """Hot-bucket bound for the long-running-stream hazard: a hot
    batch bucket emits star pairs — and the keep decision is
    unchanged."""
    corpus = _docs(spark, [(i, _X) for i in range(50, 58)])
    batch = _docs(spark, [(0, _X), (1, _X), (2, _X),
                          (9, "entirely unrelated words about glass "
                              "blowing furnaces and their upkeep")])
    idx = signature_index(corpus)
    batch_idx = signature_index(batch)
    capped = incremental_candidates(batch_idx, idx, max_bucket=3,
                                    min_sig_agreement=None)
    rows = capped.collect()
    # batch bucket of 3 is within the cap -> ordinary pairs
    within = {(r["doc_a"], r["doc_b"]) for r in rows if r["kind"] == "batch"}
    assert within == {(0, 1), (0, 2), (1, 2)}
    # tighter cap -> star pairs only (min batch doc as hub)
    starred = incremental_candidates(batch_idx, idx, max_bucket=2,
                                     min_sig_agreement=None)
    within2 = {(r["doc_a"], r["doc_b"])
               for r in starred.collect() if r["kind"] == "batch"}
    assert within2 == {(0, 1), (0, 2)}
    # decision identical with and without the cap
    for mb in (None, 3, 2):
        kept = sorted(r["doc_id"] for r in
                      incremental_keep(batch, batch_idx, idx,
                                       max_bucket=mb).collect())
        assert kept == [9], mb


def test_batch_pairs_equal_full_run_capped_and_verified(spark):
    """One bucket-pair builder serves both paths: over an empty corpus
    index, the kind='batch' rows equal the full-corpus run row for row,
    for every hot-bucket cap and with and without verification."""
    # 211 shares only band 0 with _X, at agreement 7/16: a band
    # collision that verification rejects
    far = ("the quick brown fox jumps red blue green owl tree sun moon "
           "in spain falls mainly on the plain and the cat sat on the mat")
    trio = "a short page on lighthouse keepers and their long night shifts"
    hot = [(200 + i, _X) for i in range(4)] + [
        (210, _X.replace("rain", "snow")), (211, far),
        (220, trio), (221, trio), (222, trio),   # buckets of exactly 3
    ]
    docs = _corpus(spark).unionByName(_docs(spark, hot))
    idx = cache(signature_index(docs))
    empty_idx = idx.limit(0)
    sizes = {}
    for mb in (None, 2, 3):
        for agree in (None, 0.5):
            full = sorted(tuple(r) for r in minhash_lsh_candidates(
                docs, max_bucket=mb, min_sig_agreement=agree).collect())
            inc = sorted(
                tuple(r) for r in incremental_candidates(
                    idx, empty_idx, max_bucket=mb,
                    min_sig_agreement=agree)
                .filter(F.col("kind") == "batch").drop("kind").collect())
            assert inc == full, (mb, agree)
            sizes[mb, agree] = len(full)
    # the planted bucket is hot under both caps: star pairs replace
    # its all-pairs listing, and verification drops some pairs
    assert sizes[2, None] < sizes[3, None] < sizes[None, None], sizes
    assert sizes[None, 0.5] < sizes[None, None], sizes


def test_verification_appends_agreement_and_filters(spark):
    corpus = _docs(spark, [(1, _X)])
    batch = _docs(spark, [(10, _X), (11, _X.replace("rain", "snow"))])
    cand = incremental_candidates(signature_index(batch),
                                  signature_index(corpus),
                                  min_sig_agreement=0.5)
    rows = {(r["doc_a"], r["doc_b"]): r["sig_agreement"]
            for r in cand.collect()}
    assert rows[(1, 10)] == 1.0          # identical text
    assert all(v >= 0.5 for v in rows.values())
    strict = incremental_candidates(signature_index(batch),
                                    signature_index(corpus),
                                    min_sig_agreement=1.0)
    # only the exact-duplicate pair survives agreement == 1.0
    assert {(r["doc_a"], r["doc_b"]) for r in strict.collect()} == {(1, 10)}


def test_bucketed_index_joins_without_corpus_exchange(spark, tmp_path):
    """The 100 TB contract: with the signature index stored bucketed on
    (band, bucket), the incremental join reads the corpus side straight
    from the buckets — the executed plan has NO Exchange between the
    index table scan and the join; only the (small) new batch
    shuffles."""
    corpus = _corpus(spark)
    tbl = "sig_idx_inc_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        (signature_index(corpus)
         .write.bucketBy(8, "band", "bucket").sortBy("band", "bucket")
         .mode("overwrite").saveAsTable(tbl))
        idx = spark.table(tbl)
        batch = _docs(spark, [(200, _X), (201, "fresh words entirely")])
        # a tiny test index would be broadcast (also exchange-free, but
        # not the shape under test); force the at-scale SMJ plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = incremental_candidates(signature_index(batch), idx)
        cand.collect()
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # AQE toString prints the final plan first, then echoes the
        # initial plan — assert over the final section only
        plan = plan.split("== Initial Plan ==")[0]
        lines = plan.splitlines()
        scans = [i for i, ln in enumerate(lines)
                 if tbl in ln and "FileScan" in ln]
        assert scans, plan
        scan_i = scans[0]
        # the scan itself reads the bucket layout, pruning nothing
        assert "Bucketed: true" in lines[scan_i]
        assert "SelectedBucketsCount: 8 out of 8" in lines[scan_i]
        # walk up to the join consuming the scan: every line between is
        # this child's subtree spine — NO Exchange (a partition-local
        # Sort may appear when a bucket spans several files, voiding
        # the sortBy guarantee; that is per-task work, not a shuffle)
        join_i = max(i for i in range(scan_i)
                     if "SortMergeJoin" in lines[i]
                     or "ShuffledHashJoin" in lines[i])
        between = lines[join_i + 1:scan_i]
        assert not any("Exchange" in ln for ln in between), between
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_recrawled_id_not_conflated_with_its_old_index_rows(spark):
    """Round-4 review regression: a re-crawled url shares its doc_id
    with its OLD index rows.  The old content's edges must taint only
    the corpus node — new, unrelated content under the same id must
    survive (same-url keep-newest is compaction's job).  Repro shape:
    corpus={7: X}; batch={7: unrelated, 9: X}.  Old-7 near-dups
    batch-9; batch-7's new content collides with nothing — it must be
    kept, 9 must drop."""
    corpus = _docs(spark, [(7, _X)])
    batch = _docs(spark, [
        (7, "completely different content about underwater basket "
            "weaving championships and their storied history"),
        (9, _X),
    ])
    kept = sorted(r["doc_id"] for r in
                  incremental_keep(batch, signature_index(batch),
                                   signature_index(corpus)).collect())
    assert kept == [7]


def test_negative_ids_raise_loudly(spark):
    """The corpus-node remap reserves the negative id space; a negative
    BATCH id would silently corrupt the keep decision, so it must raise
    instead (round-4 review finding)."""
    batch = _docs(spark, [(-3, _X), (5, _X)])
    empty_idx = signature_index(_docs(spark, [])).limit(0)
    with pytest.raises(Exception, match="non-negative"):
        incremental_keep(batch, signature_index(batch),
                         empty_idx).collect()


# --- incremental EXACT dedup against a digest index -----------------

def test_incremental_exact_decisions(spark):
    """All three decision cases: corpus hit drops with the corpus
    keeper, batch-only dup group keeps its min, unique keeps."""
    from origami_spark.operators.dedup import digest_index, incremental_exact

    corpus = _docs(spark, [(11, "shared corpus content"),
                           (13, "shared corpus content"),
                           (15, "corpus only text")])
    batch = _docs(spark, [(20, "shared corpus content"),   # corpus hit
                          (24, "batch only dup"),          # batch keeper
                          (28, "batch only dup"),          # batch dup
                          (32, "fresh unique content")])   # unique
    got = {r["doc_id"]: (r["keep"], r["dup_of"])
           for r in incremental_exact(batch, digest_index(corpus)).collect()}
    assert got == {20: (False, 11), 24: (True, None),
                   28: (False, 24), 32: (True, None)}


def test_incremental_exact_replay_idempotent(spark):
    """Appending the survivors' digests then replaying the same batch
    drops every row (all index hits) — the streaming replay contract."""
    from origami_spark.operators.dedup import digest_index, incremental_exact

    corpus = _docs(spark, [(1, "old content")])
    batch = _docs(spark, [(8, "new content"), (12, "new content")])
    idx = digest_index(corpus)
    first = incremental_exact(batch, idx)
    kept = first.filter("keep").select(
        "digest", F.col("doc_id").alias("keeper"))
    idx2 = idx.unionByName(kept).groupBy("digest").agg(
        F.min("keeper").alias("keeper"))
    replay = {r["doc_id"]: (r["keep"], r["dup_of"])
              for r in incremental_exact(batch, idx2).collect()}
    assert replay == {8: (False, 8), 12: (False, 8)}


def F_DIGEST(s):
    import hashlib
    return hashlib.md5(s.encode()).hexdigest()


def test_incremental_exact_append_only_index(spark):
    """At scale the index is maintained APPEND-ONLY (survivors appended,
    compaction optional), so a digest may carry several rows.  The probe
    must resolve min(keeper) at read time — same decisions, and no
    fan-out duplication of batch rows through the left join."""
    from origami_spark.operators.dedup import incremental_exact

    # 'shared' appended three times across snapshots, keepers 9/5/7
    idx = spark.createDataFrame(
        [(F_DIGEST("shared text"), 9), (F_DIGEST("shared text"), 5),
         (F_DIGEST("shared text"), 7), (F_DIGEST("other"), 3)],
        "digest string, keeper long")
    batch = _docs(spark, [(40, "shared text"), (44, "fresh text")])
    rows = incremental_exact(batch, idx).collect()
    assert len(rows) == 2  # no join fan-out
    got = {r["doc_id"]: (r["keep"], r["dup_of"]) for r in rows}
    assert got == {40: (False, 5), 44: (True, None)}


def test_incremental_exact_index_never_shuffles(spark, tmp_path):
    """The probe plan: the stored index side joins against the
    BROADCAST batch digest set — no Exchange may sit between the index
    file scan and its join (the 100-TB index is read, never shuffled).
    autoBroadcastJoinThreshold=-1 so only the operator's EXPLICIT
    broadcast hint can make it so."""
    from origami_spark.operators.dedup import digest_index, incremental_exact

    corpus = _docs(spark, [(i, f"corpus doc {i}") for i in range(50)])
    path = str(tmp_path / "digest_idx")
    digest_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    batch = _docs(spark, [(100 + i, f"corpus doc {i * 2}")
                          for i in range(10)])
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = incremental_exact(batch, idx)
        out.collect()
        # the cached batch side embeds a nested AdaptiveSparkPlan whose
        # toString echoes its own "== Initial Plan ==" MID-tree, so the
        # usual split-at-marker trick would truncate the outer plan;
        # instead walk the index scan's ancestor spine by tree indent
        # (a parent's branch marker sits strictly left of its child's),
        # which skips nested echoes and sibling subtrees naturally
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()

        def _marker(ln):
            pos = [p for p in (ln.find("+- "), ln.find(":- "))
                   if p >= 0]
            return min(pos) if pos else None

        # match the scan by its column list: the stored index is the
        # only parquet scan here, and the Location metadata is
        # truncated at 100 chars (the long pytest tmp_path pushes the
        # directory name out of the printed string)
        scans = [i for i, ln in enumerate(lines)
                 if "FileScan parquet" in ln and "keeper#" in ln]
        assert scans, plan
        scan_i = scans[0]  # final plan prints first
        cur = _marker(lines[scan_i])
        assert cur is not None, lines[scan_i]
        spine = []
        for i in range(scan_i - 1, -1, -1):
            m = _marker(lines[i])
            if m is not None and m < cur:
                spine.append(lines[i])
                cur = m
                if "Join" in lines[i]:
                    break
        assert spine and "BroadcastHashJoin" in spine[-1], spine
        # nothing between the index scan and its consuming join may
        # repartition the index (a BroadcastExchange of the small
        # probe result is fine; a hash shuffle of the index is not)
        assert not any("Exchange hashpartitioning" in ln
                       for ln in spine), spine
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
