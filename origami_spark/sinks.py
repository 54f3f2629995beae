"""Training-data export sinks.

``export_jsonl`` writes any DataFrame as size-targeted, compressed
JSONL shards — the interchange format LLM data pipelines ingest.
Shard size is enforced by the writer's ``maxRecordsPerFile`` using a
rows-per-shard figure derived from a SAMPLED bytes/row estimate, so the
export makes exactly ONE pass over the data: no full ``to_json`` sizing
aggregate (a wasted 100 TB serialization) and no ``repartition`` shuffle
just to hit a file size.  Gzip keeps shards independently readable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rows the shard-size estimate serializes
_SAMPLE_ROWS = 2048


def _count_part_files(spark, path: str) -> int:
    """Number of part- files the write produced (any Hadoop fs)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return sum(
        1 for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("part-")
    )


def export_jsonl(df: DataFrame, path: str, target_shard_mb: int = 256,
                 total_rows: int | None = None,
                 order_col: str | None = None) -> int:
    """Write `df` as gzip JSONL shards of ~`target_shard_mb` (uncompressed
    estimate).  Returns the number of part files written.

    Sizing: serialize only the first ``_SAMPLE_ROWS`` rows (a LIMIT — one
    tiny job, typically one upstream partition) to estimate bytes/row,
    convert the target size to rows-per-file, and let the writer split
    files via ``maxRecordsPerFile``.  The data itself is read exactly
    once, by the write.

    Shard-size contract: every file holds at most rows-per-shard rows,
    so no file exceeds ~target x (true bytes/row / sampled bytes/row) —
    within 2x target unless the sample is wildly unrepresentative.

    Small-partition merging: the writer splits large partitions but
    never merges small ones, so a shuffle-shaped input (many small
    partitions) would land as many small files.  When the caller
    already knows the row count (most pipelines count their export
    anyway — jobs/corpus_job.py does), pass ``total_rows`` and the
    frame is coalesced (no shuffle) to the exact shard count first.
    Without it, the sample that exhausts the table gives the same
    exactness for small inputs; large unknown-count inputs keep the
    one-pass contract and the upstream partitioning floor.

    ``order_col`` (requires ``total_rows``): globally ORDERED export —
    the frame is range-partitioned on that column to the exact shard
    count and sorted within each partition, so file k's values all
    precede file k+1's in filename order.  This MUST NOT be expressed
    as caller-side repartitionByRange + sink-side coalesce: coalesce
    groups parent partitions by LOCALITY on a real cluster
    (DefaultPartitionCoalescer), not by index, which silently breaks
    shard contiguity — only ever observable off the single-node test
    rig."""
    # CollectLimit executes incrementally (first partition, then grow),
    # so this job touches ~one upstream partition — an agg on top would
    # force a LocalLimit per partition and evaluate them ALL
    sampled = (
        df.limit(_SAMPLE_ROWS)
        .select(F.octet_length(F.to_json(F.struct(*df.columns))).alias("b"))
        .collect()
    )
    sample = {"n": len(sampled), "b": sum(r["b"] or 0 for r in sampled)}
    target_bytes = int(target_shard_mb * 1024 * 1024)
    bytes_per_row = max(1, math.ceil(sample["b"] / sample["n"])) if sample["n"] else 1
    if order_col is not None:
        if total_rows is None:
            raise ValueError("order_col requires total_rows")
        shards = max(1, math.ceil(total_rows * bytes_per_row / target_bytes))
        df = (df.repartitionByRange(shards, F.col(order_col))
              .sortWithinPartitions(order_col))
    elif total_rows is not None and sample["n"]:
        # caller-supplied exact count: coalesce to the exact shard count
        shards = max(1, math.ceil(total_rows * bytes_per_row / target_bytes))
        df = df.coalesce(shards)
    elif sample["n"] and sample["n"] < _SAMPLE_ROWS:
        # the LIMIT exhausted the table: sample IS the table, sizing is
        # exact — coalesce small exports instead of leaving one file per
        # upstream partition
        shards = max(1, math.ceil(sample["b"] / target_bytes))
        df = df.coalesce(shards)
    writer = df.write.mode("overwrite").option("compression", "gzip")
    if sample["n"]:
        rows_per_shard = max(1, target_bytes // bytes_per_row)
        writer = writer.option("maxRecordsPerFile", rows_per_shard)
    writer.json(path)
    return _count_part_files(df.sparkSession, path)
