"""Streaming ingest smoke: drain a landing zone incrementally, verify
exactly-once per-url output equal to the batch path."""

import pyspark.sql.functions as F

from origami_spark.sources.corpus import PAGES_SCHEMA, pages_df
from origami_spark.streaming import stream_extract


def test_stream_extract_drains_landing_zone(spark, tmp_path):
    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = pages_df(spark, 80, num_partitions=4).cache()
    pages.filter("url like '%a_' or url like '%a__'").write.mode(
        "append").parquet(land)  # first drop: docs 0-99 subset

    q = stream_extract(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == first.select("url").distinct().count()

    # second drop lands later; restart drains ONLY the new files
    pages.write.mode("append").parquet(land)
    q = stream_extract(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    # every url extracted, byte-identical to golden
    cmp = final.join(pages.select("url", F.col("text").alias("golden")), "url")
    assert cmp.filter("text != golden").count() == 0
    assert final.select("url").distinct().count() == 80


def test_streaming_warc_ingest_matches_batch(spark, tmp_path):
    """Archives dropped across two drain cycles stream into the
    exactly-once sink; the union is byte-identical to the batch path
    (WARC -> engine -> goldens) with zero duplicates."""
    import gzip

    from origami_spark.sources.corpus import generate_pages
    from origami_spark.sources.warc import synth_warc
    from origami_spark.streaming.ingest import stream_extract_warc

    pages = generate_pages(42, 40)
    arch = tmp_path / "archives"
    arch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # first archive lands; drain
    (arch / "a.warc").write_bytes(synth_warc(pages[:25]))
    q = stream_extract_warc(spark, str(arch), out, ckpt, available_now=True)
    q.awaitTermination(120)
    # second archive (per-record gzip) lands later; drain again from the
    # same checkpoint — the first archive must NOT be reprocessed
    (arch / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(synth_warc([p])) for p in pages[25:]))
    q2 = stream_extract_warc(spark, str(arch), out, ckpt, available_now=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out).select("url", "text").collect()
    assert len(got) == 40  # zero duplicates across restarts
    golden = {p["url"]: p["text"] for p in pages}
    for r in got:
        assert r["text"] == golden[r["url"]], r["url"]


def test_cleaning_ops_stream_equals_batch(spark, tmp_path):
    """The stateless cleaning operators (pii_scrub, gopher_gate) apply
    unchanged to a streaming frame — the drained stream must equal the
    batch computation row for row."""
    import pyspark.sql.functions as F

    from origami_spark.operators.clean import gopher_gate, pii_scrub

    land = str(tmp_path / "cl_land")
    out = str(tmp_path / "cl_out")
    ckpt = str(tmp_path / "cl_ckpt")
    docs = spark.createDataFrame(
        [(i, f"doc {i} mail u{i}@x.org the quick brown fox of it "
             f"ip 10.0.0.{i % 250} run {'word ' * (i % 30)}")
         for i in range(60)],
        "doc_id bigint, text string")
    docs.coalesce(3).write.mode("append").parquet(land)

    stream = spark.readStream.schema(docs.schema).parquet(land)
    gated = gopher_gate(pii_scrub(stream).withColumnRenamed(
        "scrubbed", "text").select("doc_id", "text"), min_tokens=10)
    q = (
        gated.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet").option("path", out).start()
    )
    q.awaitTermination(120)

    batch = gopher_gate(pii_scrub(docs).withColumnRenamed(
        "scrubbed", "text").select("doc_id", "text"), min_tokens=10)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) == 60


def test_stream_exact_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """A re-served page (same text, new url) arriving in a LATER
    micro-batch is dropped by the streaming dedup state; distinct
    digests all pass."""
    import pyspark.sql.functions as F

    from origami_spark.streaming.ingest import stream_exact_dedup

    land = str(tmp_path / "dd_land")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    pages = pages_df(spark, 40, num_partitions=2).cache()
    pages.write.mode("append").parquet(land)
    # second drop: 10 duplicates under mirror urls + nothing new
    (pages.limit(10)
     .withColumn("url", F.concat("url", F.lit("?mirror")))
     .write.mode("append").parquet(land))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(land)
    )
    q = (
        stream_exact_dedup(stream)
        .select("url", "digest", "warc_ts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet").option("path", out).start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    n_digests = pages.select(F.md5(F.col("text").cast("string"))) \
        .distinct().count()
    assert got.count() == n_digests
    assert got.select("digest").distinct().count() == n_digests


def test_stream_corpus_end_to_end(spark, tmp_path):
    """Continuous corpus pipeline: two landing drops, the second
    re-serving 8 pages byte-identically under mirror urls.  The drained
    output must carry exactly one copy per distinct html, pass the
    quality gate, and match the batch computation over the same pages."""
    import pyspark.sql.functions as F

    from origami_spark.operators.text import quality_score
    from origami_spark.pipeline import extract_fused
    from origami_spark.streaming.corpus import stream_corpus

    land = str(tmp_path / "sc_land")
    out = str(tmp_path / "sc_out")
    ckpt = str(tmp_path / "sc_ckpt")
    pages = pages_df(spark, 50, num_partitions=2).cache()
    pages.write.mode("append").parquet(land)
    (pages.limit(8)
     .withColumn("url", F.concat("url", F.lit("?mirror")))
     .write.mode("append").parquet(land))

    q = stream_corpus(spark, land, out, ckpt, min_tokens=10,
                      max_files_per_trigger=2, available_now=True)
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    assert set(got.columns) >= {"url", "text", "warc_ts", "n_tokens", "quality"}
    # batch reference: extraction + gate over the ORIGINAL 50 pages
    ext = extract_fused(spark, pages).filter(F.col("text") != "")
    docs = ext.select(F.col("url").alias("doc_id"), "text")
    metrics = quality_score(docs).select("doc_id", "n_tokens", "quality")
    want = (
        ext.join(metrics, ext["url"] == metrics["doc_id"])
        .filter((F.col("quality") != "low") & (F.col("n_tokens") >= 10))
        .select("url", "text")
    )
    got_texts = sorted(r["text"] for r in got.collect())
    want_texts = sorted(r["text"] for r in want.collect())
    assert got_texts == want_texts  # one copy per distinct html, gated
    assert got.filter("quality = 'low'").count() == 0
    # the mirrors were byte-identical: none of them re-parsed into output
    assert got.filter(F.col("url").endswith("?mirror")).count() == 0


def test_stream_corpus_cross_batch_recrawl_then_compaction(spark, tmp_path):
    """A url re-crawled with different bytes in a LATER micro-batch
    legitimately lands again (the documented continuous-ingest
    contract); compact_corpus then folds the landed partitions to one
    newest row per url."""
    import pyspark.sql.functions as F

    from origami_spark.streaming.corpus import compact_corpus, stream_corpus

    land = str(tmp_path / "cb_land")
    out = str(tmp_path / "cb_out")
    ckpt = str(tmp_path / "cb_ckpt")
    pages = pages_df(spark, 12, num_partitions=1).cache()
    pages.write.mode("append").parquet(land)
    q = stream_corpus(spark, land, out, ckpt, min_tokens=5,
                      available_now=True)
    q.awaitTermination(180)

    # the re-crawl must carry timestamps NEWER than everything batch 1
    # saw, or the dedup state's event-time watermark (1 day behind the
    # max) drops it as late data — which is correct streaming behavior,
    # just not what this test exercises
    import datetime as dt

    max_ts = pages.agg(F.max("warc_ts")).collect()[0][0]
    recrawl = (
        pages.limit(3)
        .withColumn("html",
                    F.concat(F.col("html").cast("string"),
                             F.lit("<!-- v2 -->")).cast("binary"))
        .withColumn("warc_ts",
                    F.lit(max_ts + dt.timedelta(hours=1)))
    ).cache()
    recrawl.write.mode("append").parquet(land)
    q2 = stream_corpus(spark, land, out, ckpt, min_tokens=5,
                       available_now=True)
    q2.awaitTermination(180)

    landed = spark.read.parquet(out)
    dup_urls = {r["url"] for r in
                landed.groupBy("url").count().filter("count > 1").collect()}
    recrawled = {r["url"] for r in recrawl.select("url").collect()}
    # the contract: cross-batch re-crawls DO land twice...
    assert dup_urls == recrawled, (dup_urls, recrawled)

    compacted = compact_corpus(spark, out, str(tmp_path / "cb_compact"))
    assert compacted.groupBy("url").count().filter("count > 1").count() == 0
    newer = {r["url"]: r["warc_ts"] for r in recrawl.collect()}
    for r in compacted.filter(F.col("url").isin(*newer.keys())).collect():
        assert r["warc_ts"] == newer[r["url"]], r["url"]
    assert compacted.count() == landed.select("url").distinct().count()


def test_stream_corpus_same_url_different_bytes_keeps_newest(spark, tmp_path):
    """A url re-crawled with DIFFERENT html inside one trigger survives
    the digest dedup twice; the sink must emit exactly ONE row for it
    (the newest crawl), never cross-multiplied join products."""
    import pyspark.sql.functions as F

    from origami_spark.streaming.corpus import stream_corpus

    land = str(tmp_path / "du_land")
    out = str(tmp_path / "du_out")
    ckpt = str(tmp_path / "du_ckpt")
    pages = pages_df(spark, 20, num_partitions=1).cache()
    recrawl = (
        pages.limit(4)
        .withColumn("html",
                    F.concat(F.col("html").cast("string"),
                             F.lit("<!-- v2 -->")).cast("binary"))
        .withColumn("warc_ts",
                    F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    pages.unionByName(recrawl).write.mode("append").parquet(land)

    q = stream_corpus(spark, land, out, ckpt, min_tokens=5,
                      available_now=True)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    dup = got.groupBy("url").count().filter("count > 1").collect()
    assert dup == [], dup
    # the re-crawled urls carry the NEWER timestamp
    newer = {r["url"]: r["warc_ts"] for r in recrawl.collect()}
    for r in got.filter(F.col("url").isin(*newer.keys())).collect():
        assert r["warc_ts"] == newer[r["url"]], r["url"]


def test_stream_corpus_continuous_near_dup_index(spark, tmp_path):
    """Cross-batch NEAR-dup with the persisted signature index: a later
    batch re-serving pages whose html differs only by a comment (new
    digest -> passes exact dedup; identical extracted text -> signature
    agreement 1.0) must not land again; genuinely new pages must.
    Within one batch, two comment-variants of the same new page keep
    exactly one.  The index accumulates one batch_id partition per
    drain, holding survivors only."""
    import pyspark.sql.functions as F

    from origami_spark.streaming.corpus import stream_corpus

    land = str(tmp_path / "nd_land")
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    idx = str(tmp_path / "nd_index")

    pages = pages_df(spark, 15, num_partitions=1).cache()
    first = pages.limit(10).cache()
    first.write.mode("append").parquet(land)
    q = stream_corpus(spark, land, out, ckpt, min_tokens=5,
                      available_now=True, near_dup_index_dir=idx)
    q.awaitTermination(180)
    landed1 = spark.read.parquet(out)
    n1 = landed1.count()
    assert n1 > 0
    idx1 = spark.read.parquet(idx)
    # one signature-index row set per surviving doc (bands x docs)
    assert idx1.select("doc_id").distinct().count() == n1

    # batch 2: 3 near-dup re-serves (comment-tweaked html, new urls,
    # newer ts), 2 genuinely new pages, and 2 comment-variants of a
    # third new page
    import datetime as dt

    max_ts = pages.agg(F.max("warc_ts")).collect()[0][0]
    bump = F.lit(max_ts + dt.timedelta(hours=1))
    tweak = lambda d, tag: (  # noqa: E731
        d.withColumn("html", F.concat(F.col("html").cast("string"),
                                      F.lit(f"<!-- {tag} -->"))
         .cast("binary"))
        .withColumn("url", F.concat("url", F.lit(f"?{tag}")))
        .withColumn("warc_ts", bump))
    first_urls = {r["url"] for r in first.select("url").collect()}
    fresh = pages.filter(~F.col("url").isin(*first_urls)).cache()
    assert fresh.count() == 5
    reserves = tweak(first.limit(3), "v2")
    new_two = fresh.limit(2).withColumn("warc_ts", bump)
    third = fresh.subtract(fresh.limit(2)).limit(1)
    variants = tweak(third, "a").unionByName(tweak(third, "b"))
    for df in (reserves, new_two, variants):
        df.write.mode("append").parquet(land)

    q2 = stream_corpus(spark, land, out, ckpt, min_tokens=5,
                       available_now=True, near_dup_index_dir=idx)
    q2.awaitTermination(180)

    landed = spark.read.parquet(out).cache()
    # none of the re-serves landed: their text is identical to an
    # indexed doc (agreement 1.0)
    assert landed.filter(F.col("url").endswith("?v2")).count() == 0
    # both genuinely new pages landed
    new_urls = {r["url"] for r in new_two.select("url").collect()}
    assert landed.filter(F.col("url").isin(*new_urls)).count() == 2
    # the two variants of the third page resolved to ONE survivor
    assert landed.filter(F.col("url").endswith("?a")
                         | F.col("url").endswith("?b")).count() == 1
    # index grew by exactly the batch-2 survivors, in their own partition
    idx2 = spark.read.parquet(idx)
    assert idx2.select("doc_id").distinct().count() == landed.count()
    assert idx2.select(F.input_file_name()).distinct().count() >= 2


def test_stream_index_append_capping(spark, tmp_path, monkeypatch):
    """The hot-bucket cap is enforced at index-APPEND time: a
    survivor's row for a (band, bucket) already holding _MAX_BUCKET rows
    is skipped, while its other band rows land — the doc stays
    discoverable through its remaining bands and the index bucket never
    exceeds the cap."""
    import pyspark.sql.functions as F

    from origami_spark.operators.dedup import signature_index
    from origami_spark.operators.text import portable_hash60
    from origami_spark.streaming import corpus
    from origami_spark.streaming.corpus import _near_dup_against_index

    monkeypatch.setattr(corpus, "_MAX_BUCKET", 2)
    text = ("the quick brown fox jumps over the lazy dog while the rain "
            "in spain falls mainly on the plain and the cat sat on the mat")
    gated = spark.createDataFrame([("u1", text)], "url string, text string")
    ids = gated.select(portable_hash60(F.col("url")).alias("doc_id"), "text")
    own_b0 = signature_index(ids).filter(F.col("band") == 0)
    # seed the index: TWO rows occupying the doc's own band-0 bucket,
    # with garbage signatures (agreement 0 -> the doc survives dedup)
    zeros = F.expr("array_repeat(CAST(0 AS BIGINT), 16)")
    fake = (
        own_b0.select(F.lit(900).alias("doc_id"), "band", "bucket",
                      zeros.alias("sig"))
        .unionByName(own_b0.select(F.lit(901).alias("doc_id"), "band",
                                   "bucket", zeros.alias("sig")))
    )
    idx_dir = str(tmp_path / "cap_idx")
    fake.write.parquet(f"{idx_dir}/batch_id=0")

    out = _near_dup_against_index(spark, gated, idx_dir, 1)
    assert out.count() == 1   # agreement 0 vs the seeded sigs: kept
    appended = spark.read.parquet(f"{idx_dir}/batch_id=1")
    # band 0's bucket was full (2 >= cap): skipped; bands 1-3 landed
    assert appended.filter(F.col("band") == 0).count() == 0
    assert sorted(r["band"] for r in appended.collect()) == [1, 2, 3]


def test_stream_near_dup_candidates_read_the_signature_checkpoint(
        spark, tmp_path, monkeypatch):
    """A micro-batch signs its docs once, into a checkpoint: the
    executed plan of its candidate frame reads the signatures from
    there and holds no MapInPandas — neither the signature kernel nor
    anything upstream of it runs again inside the candidate joins."""
    from unittest.mock import patch

    from origami_spark.operators import dedup
    from origami_spark.streaming import corpus
    from origami_spark.streaming.corpus import _near_dup_against_index

    text = ("some reasonably long page text about the history of "
            "mechanical clocks and their escapements through the ages")
    gated = spark.createDataFrame(
        [("u_a", text), ("u_b", text), ("u_c", text),
         ("u_d", "a completely different page concerning tidal pools")],
        "url string, text string")
    real = dedup.incremental_candidates
    plans = []

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        n = len(out.collect())
        plans.append((n, out._jdf.queryExecution().executedPlan().toString()))
        return out

    # a 2-row bucket cap: the triplet's buckets are hot, so the star
    # branch's stats join is in the plan too
    monkeypatch.setattr(corpus, "_MAX_BUCKET", 2)
    with patch.object(dedup, "incremental_candidates", spy):
        kept = _near_dup_against_index(
            spark, gated, str(tmp_path / "idx"), 0).collect()
    assert len(kept) == 2
    [(n, plan)] = plans
    assert n > 0
    assert "MapInPandas" not in plan, plan


def test_stream_near_dup_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch AFTER its index append landed (crash
    before checkpoint commit) must reproduce the first run exactly: the
    replayed batch's own index rows are excluded from the corpus read
    (else the kept survivor would near-dup its own earlier rows and
    vanish) and the read is materialized before the overwrite (else the
    lazy scan hits the deleted files)."""
    import pyspark.sql.functions as F

    from origami_spark.streaming.corpus import _near_dup_against_index

    text = ("some reasonably long page text about the history of "
            "mechanical clocks and their escapements through the ages")
    gated = spark.createDataFrame(
        [("u_a", text), ("u_b", text),
         ("u_c", "a completely different page concerning tidal pools")],
        "url string, text string")
    idx_dir = str(tmp_path / "replay_idx")

    first = sorted(r["url"] for r in _near_dup_against_index(
        spark, gated, idx_dir, 5).collect())
    idx_first = sorted(
        (r["doc_id"], r["band"]) for r in
        spark.read.parquet(idx_dir).collect())
    # one of the twins dropped, the unrelated doc kept
    assert len(first) == 2 and "u_c" in first

    replay = sorted(r["url"] for r in _near_dup_against_index(
        spark, gated, idx_dir, 5).collect())
    idx_replay = sorted(
        (r["doc_id"], r["band"]) for r in
        spark.read.parquet(idx_dir).collect())
    assert replay == first
    assert idx_replay == idx_first


def test_stream_near_dup_untouched_buckets_pruned_and_irrelevant(spark,
                                                                 tmp_path):
    """The corpus read is pruned to buckets the batch touches; rows in
    untouched buckets must neither change the decision (they cannot
    pair) nor survive into the materialized corpus side.  Guards the
    pruning invariant: if a future change makes the keep decision read
    corpus rows OUTSIDE the batch's buckets, this fixture's near-dup
    twin in a foreign bucket would start mattering and the test fails
    loudly."""
    import pyspark.sql.functions as F

    from origami_spark.operators.dedup import signature_index
    from origami_spark.operators.text import portable_hash60
    from origami_spark.streaming.corpus import _near_dup_against_index

    text = ("the quick brown fox jumps over the lazy dog while the rain "
            "in spain falls mainly on the plain and the cat sat on the mat")
    gated = spark.createDataFrame([("u1", text)], "url string, text string")
    ids = gated.select(portable_hash60(F.col("url")).alias("doc_id"), "text")
    own = signature_index(ids)
    # an index row with the doc's OWN signatures (perfect agreement —
    # would drop the doc if consulted) but in a bucket the batch never
    # touches: same bands, foreign bucket string
    foreign = own.select(
        F.lit(900).alias("doc_id"), "band",
        F.concat(F.lit("zz-"), F.col("bucket")).alias("bucket"), "sig")
    idx_dir = str(tmp_path / "pruned_idx")
    foreign.write.parquet(f"{idx_dir}/batch_id=0")

    out = _near_dup_against_index(spark, gated, idx_dir, 1)
    # untouched-bucket twin is invisible: the doc survives
    assert [r["url"] for r in out.collect()] == ["u1"]
    # and its own rows landed under batch_id=1 as usual
    assert spark.read.parquet(f"{idx_dir}/batch_id=1").count() == 4

