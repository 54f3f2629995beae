"""Continuous ingest: readStream over a pages landing zone -> fused
extraction -> idempotent per-micro-batch parquet commits.

The streaming analog of the batch runner's anti-join resume: Structured
Streaming's source offsets + checkpointLocation make compute
at-least-once, and the sink makes the *effect* exactly-once by keying
each write on the deterministic ``batch_id``: every micro-batch
overwrites its own ``batch_id=N`` subdirectory, so a crash between the
parquet write and the streaming checkpoint commit replays the batch into
the same directory instead of duplicating rows (the standard
foreachBatch idempotence recipe from the Structured Streaming guide).
Readers see one directory of parquet files; ``batch_id`` is a normal
partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import extract_fused
from ..sources.corpus import PAGES_SCHEMA


def _start_extract_sink(spark: SparkSession, pages, out_dir: str,
                        checkpoint_dir: str, trigger_seconds: int,
                        available_now: bool):
    """Shared tail of every extraction stream: the exactly-once
    foreachBatch sink (overwrite-by-batch_id: replays of the same
    micro-batch land in the same subdirectory) + trigger + start."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        extract_fused(spark, batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return start_stream_sink(pages, sink, checkpoint_dir, trigger_seconds,
                             available_now)


def start_stream_sink(stream_df, sink, checkpoint_dir: str,
                      trigger_seconds: int, available_now: bool):
    """The one exactly-once writer tail every streaming entry point
    shares: foreachBatch sink + checkpoint + trigger + start."""
    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_extract(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Drain parquet page files landing in `source_dir` into extracted
    (url, text, spans) parquet under `out_dir`, up to 64 files per
    10-second trigger.  Returns the query handle (call
    .awaitTermination() / .stop()).

    `available_now=True` processes everything currently available and
    stops — the batch-catch-up mode (and the test mode)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    return _start_extract_sink(spark, pages, out_dir, checkpoint_dir,
                               10, available_now)


def stream_extract_warc(
    spark: SparkSession,
    archive_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Streaming WARC ingest: archives LANDING in `archive_dir` (the
    continuous-crawl shape — new .warc/.warc.gz files appearing over
    time) are parsed with the same tolerant kernel as the batch reader
    (sources/warc.py: per-record gzip, framing resync, loss counters)
    and extracted into the same exactly-once batch_id-keyed sink as
    ``stream_extract``, up to 8 archives per 10-second trigger.  One
    archive file is the unit of both
    source-offset tracking and parallelism, so a restart never re-emits
    a processed archive and never misses a half-landed one (binaryFile
    lists completed files only).  Returns the query handle."""
    from ..sources.warc import WARC_PAGES_SCHEMA, pages_kernel

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed, but streaming sources require it
        # stated explicitly
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", 8)
        .option("pathGlobFilter", "*.warc*")
        .load(archive_dir)
        .select("path", "content")
    )
    pages = files.mapInPandas(pages_kernel, schema=WARC_PAGES_SCHEMA)
    return _start_extract_sink(spark, pages, out_dir, checkpoint_dir,
                               10, available_now)


def stream_exact_dedup(pages, text_col: str = "text",
                       watermark: str = "1 day") -> DataFrame:
    """Continuous exact dedup on a stream: digest the text and keep the
    first arrival per digest, with state bounded by the ``warc_ts``
    event-time watermark (``dropDuplicatesWithinWatermark`` — a digest seen again
    within the horizon is dropped; after the watermark passes, its
    state is evicted, so a re-crawl far outside the horizon is treated
    as new content, which is the standard continuous-ingest contract).

    Pair with the exactly-once foreachBatch sink for an end-to-end
    continuously-deduplicating landing pipeline.  State size is one
    (digest, timestamp) pair per distinct document inside the horizon —
    at web scale, size the watermark to the re-crawl cadence.
    """
    from ..operators.dedup import content_digest

    return (
        pages.withColumn("digest", content_digest(text_col))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )
