"""Continuous corpus building: the streaming analog of
``jobs/corpus_job.py``.

One always-on query chains the batch DAG's per-document stages over a
landing zone of page files:

    readStream(pages) -> watermark-bounded exact dedup on the raw
    html digest -> fused extraction -> quality gate ->
    exactly-once parquet sink

Per-document stages (extraction, gating) are stateless maps, so they
compose into the stream unchanged — the SAME operators the batch job
and the driver queries verify, not reimplementations.  Dedup carries
the only state: one (digest, ts) pair per distinct doc inside the
watermark horizon (ingest.stream_exact_dedup).  NEAR-dup is continuous
too when ``near_dup_index_dir`` is set: each micro-batch runs
``dedup.incremental_keep`` against a persisted signature index and
appends its survivors' signatures — the corpus quadrant never
recomputes, so per-batch cost stays proportional to the batch.
Remaining corpus-WIDE stages (paragraph dedup) are batch jobs by
nature — run them as periodic compactions over the landed output,
exactly like the reference's staged artifact model.

Sink idempotence: every micro-batch overwrites its own ``batch_id=N``
subdirectory, so replays after a crash land in place instead of
duplicating rows (same recipe as ingest._start_extract_sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline import extract_fused
from ..session import cache, cache_scope, checkpoint
from ..sources.corpus import PAGES_SCHEMA
from .ingest import start_stream_sink, stream_exact_dedup


def stream_corpus(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 20,
    watermark: str = "1 day",
    trigger_seconds: int = 10,
    max_files_per_trigger: int = 64,
    available_now: bool = False,
    near_dup_index_dir: str | None = None,
):
    """Start the continuous corpus query; returns the handle.

    Output rows: ``url, text, warc_ts, n_tokens, quality`` partitioned
    by ``batch_id`` — the same export surface as the batch job's JSONL
    (minus sharding, which a periodic compaction owns).

    Continuous-ingest contract (ADVICE r3): the keep-newest-per-url
    guard below is per MICRO-BATCH only — a url re-crawled with
    different bytes in a LATER micro-batch passes the digest dedup
    (the state keys on content, deliberately: byte-identical re-serves
    are the overwhelming duplicate class and their state is bounded by
    the watermark) and lands again, so the raw landed output may carry
    the same url under several ``batch_id`` partitions, each a distinct
    crawl snapshot.  Consumers that need one row per url run
    :func:`compact_corpus`, which folds the landed partitions
    keep-newest — the same periodic-compaction slot that owns
    paragraph/near-dup passes.

    ``near_dup_index_dir``: continuous CROSS-batch near-dup.  Each
    micro-batch is signed once (Arrow minhash kernel over a 60-bit
    url-hash id), deduped against the signature index accumulated from
    every earlier batch's survivors (corpus copy wins; within-batch
    clusters keep one via connected components), and the surviving
    rows' signatures land under ``batch_id=N`` in the index dir — the
    same overwrite-own-partition idempotence as the sink, so a crash
    replay re-lands batch N's index rows in place.  A replayed doc
    never drops against its own earlier index row (the candidate
    filter excludes identical ids).
    """
    from ..operators.text import quality_score

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # one row per url per micro-batch: a url re-crawled with
        # DIFFERENT bytes inside one trigger survives the digest dedup
        # twice, and duplicate urls would cross-multiply through the
        # joins below — keep the newest crawl (deterministic tie-break
        # on digest)
        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), "digest")
        one = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # extract_fused emits (url, text, spans); carry warc_ts along
        # from the batch for the export surface.  Cache: `gated` joins
        # two frames derived from `extracted`, and without the cache
        # the parse kernel — the dominant cost — would run twice.  The
        # scope is this micro-batch's: it runs on the foreachBatch
        # thread and releases only what this batch cached
        with cache_scope():
            extracted = (
                extract_fused(spark, one)
                .filter(F.col("text") != "")
                .join(one.select("url", "warc_ts"), "url")
                .select("url", "text", "warc_ts")
                .transform(cache)
            )
            docs = extracted.select(F.col("url").alias("doc_id"), "text")
            q = quality_score(docs).select("doc_id", "n_tokens", "quality")
            gated = (
                extracted.join(q, extracted["url"] == q["doc_id"])
                .filter((F.col("quality") != "low")
                        & (F.col("n_tokens") >= min_tokens))
                .select("url", "text", "warc_ts", "n_tokens", "quality")
            )
            if near_dup_index_dir is not None:
                gated = _near_dup_against_index(
                    spark, gated, near_dup_index_dir, batch_id)
            gated.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}")

    # the dedup must run INSIDE the streaming plan (it is the stateful
    # part); extraction/gating run per micro-batch in the sink so the
    # heavyweight parse only touches rows that survived dedup... but
    # dedup keys on extracted TEXT, which does not exist pre-parse.
    # Order of operations therefore: dedup on the raw html digest
    # first (exact re-serves are byte-identical archives), then parse
    # the survivors.  A re-crawl with identical bytes never reaches
    # the parser.
    deduped = stream_exact_dedup(pages, text_col="html",
                                 watermark=watermark)
    return start_stream_sink(deduped, sink, checkpoint_dir,
                             trigger_seconds, available_now)


_INDEX_SCHEMA = "doc_id bigint, band int, bucket string, sig array<bigint>"
# continuous near-dup: the signature agreement a pair must reach, and
# the rows one (band, bucket) may hold — in the batch's star pairing
# and in the index append alike
_MIN_SIG_AGREEMENT = 0.5
_MAX_BUCKET = 128


def _near_dup_against_index(spark: SparkSession, gated: DataFrame,
                            index_dir: str, batch_id: int) -> DataFrame:
    """One micro-batch of continuous near-dup: keep gated rows that
    survive ``incremental_keep`` against the accumulated signature
    index, then land the survivors' signature rows under this batch's
    own ``batch_id=N`` partition (idempotent on replay).  The batch is
    signed exactly once — the same rows feed the dedup and the index
    append.  Returns the surviving gated rows.

    Replay safety: the corpus index is read EXCLUDING this batch's own
    ``batch_id=N`` partition and eagerly materialized
    (``localCheckpoint``) before anything is written.  Both halves
    matter — a replayed batch's earlier index rows would otherwise (a)
    pair with the batch's OTHER docs as corpus nodes and drop the very
    survivor the first run kept, and (b) be deleted by the overwrite
    mid-job while the lazy corpus_idx scan still lists their files
    (FileNotFoundException).  With the exclusion, a replay sees exactly
    the corpus state the first run saw, so the decision — and the
    rewritten partition — are identical.

    Hot-bucket bound: the cap is enforced at APPEND time — a survivor's
    index row lands only while its (band, bucket) holds fewer than
    ``_MAX_BUCKET`` rows COUNTING both the existing corpus rows and the
    lower-doc_id rows appended by this same batch (its OTHER band rows
    still land, so the doc stays discoverable through remaining bands).
    Append-time capping keeps up to ``_MAX_BUCKET`` DIVERSE members per
    bucket that verification runs against in full; the batch side
    keeps its star capping so a hot bucket arriving within ONE
    micro-batch emits O(m) star pairs, not m(m-1)/2.

    Touched-bucket pruning: the decision only ever consults corpus
    rows whose (band, bucket) some batch doc also occupies
    (``incremental_candidates`` is an equality join on those keys, and
    corpus nodes enter the component graph only through such pairs),
    so the corpus read semi-joins the batch's touched-bucket set
    BEFORE the eager materialization.  Per-batch work is then
    proportional to the BATCH (bounded by batch_docs x bands x
    _MAX_BUCKET rows), not the accumulated corpus — without this, every
    micro-batch localCheckpoints the whole index.  The broadcast
    touched set is batch_docs x bands rows at most — small by the
    micro-batch contract."""
    from ..operators.dedup import incremental_keep, signature_index
    from ..operators.text import portable_hash60

    ids = gated.select(
        portable_hash60(F.col("url")).alias("doc_id"), "url", "text")
    from pyspark.errors import AnalysisException

    with cache_scope():
        # three consumers (touched-bucket broadcast, the keep decision,
        # the index append) — sign the batch once.  A checkpoint, not a
        # cache: the candidate self-join re-instances its right side,
        # which no longer matches a cached plan and re-runs extraction
        new_idx = checkpoint(signature_index(ids.select("doc_id", "text")))
        touched = new_idx.select("band", "bucket").distinct()
        try:
            corpus_idx = (
                spark.read.schema(_INDEX_SCHEMA).parquet(index_dir)
                .filter(F.col("batch_id") != batch_id)
                .join(F.broadcast(touched), ["band", "bucket"], "semi")
                .select("doc_id", "band", "bucket", "sig")
                .transform(checkpoint)
            )
        except AnalysisException:   # first batch: no index dir yet
            corpus_idx = spark.createDataFrame([], _INDEX_SCHEMA)
        surv = cache(incremental_keep(ids, new_idx, corpus_idx,
                                      min_sig_agreement=_MIN_SIG_AGREEMENT,
                                      max_bucket=_MAX_BUCKET))
        # corpus_idx is already pruned to touched buckets
        cur = (
            corpus_idx
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        bw = Window.partitionBy("band", "bucket").orderBy("doc_id")
        surv_idx = (
            new_idx.join(surv.select("doc_id"), "doc_id")
            .join(F.broadcast(cur), ["band", "bucket"], "left")
            .withColumn("_r", F.row_number().over(bw))
            .filter(F.coalesce(F.col("_n"), F.lit(0)) + F.col("_r")
                    <= _MAX_BUCKET)
            .drop("_n", "_r")
        )
        surv_idx.write.mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}")
        # eager: materialize the kept rows while surv's cache is live —
        # the caller writes after this scope has released it
        return gated.join(surv.select("url"), "url", "semi") \
            .localCheckpoint(eager=True)


def compact_corpus(spark: SparkSession, out_dir: str,
                   dest_dir: str) -> DataFrame:
    """Fold the streamed ``batch_id=N`` partitions into one row per url,
    keeping the newest crawl (``warc_ts`` desc, later ``batch_id`` wins
    a timestamp tie — the newest LANDING — then text for a total order).
    Closes the cross-batch duplicate-url window documented in
    :func:`stream_corpus`.

    Per-url row counts are bounded by that url's re-crawl count, so the
    window partitions are tiny by construction — no mega-partition
    hazard (unlike host_cap, where one KEY can own the corpus).
    Writes ``dest_dir`` (url, text, warc_ts, n_tokens, quality) and
    returns the compacted frame."""
    landed = spark.read.parquet(out_dir)
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("batch_id"), "text")
    compacted = (
        landed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "text", "warc_ts", "n_tokens", "quality")
    )
    compacted.write.mode("overwrite").parquet(dest_dir)
    return spark.read.parquet(dest_dir)
