"""JSONL export sink: size-targeted shards, lossless round-trip, and
the single-pass contract (sampled sizing — no full serialization)."""

import gzip
import os

import pyspark.sql.functions as F

from origami_spark import sinks
from origami_spark.sinks import export_jsonl

SF = "/root/testdata/sf0.001"


def test_jsonl_roundtrip_and_sharding(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang")
    out = str(tmp_path / "out")
    n = export_jsonl(docs, out, target_shard_mb=1)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == n
    assert all(f.endswith(".json.gz") for f in parts)

    back = spark.read.json(out)
    assert back.count() == docs.count()
    a = docs.select(F.md5(F.concat_ws("\x01", "doc_id", "text", "lang")).alias("h"))
    b = back.select(
        F.md5(F.concat_ws("\x01",
                          F.col("doc_id").cast("string"), "text", "lang")).alias("h"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_jsonl_single_shard_for_tiny_input(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, t string")
    out = str(tmp_path / "tiny")
    assert export_jsonl(df, out, target_shard_mb=256) == 1
    assert spark.read.json(out).count() == 2


def test_jsonl_shard_sizes_within_2x_target(spark, tmp_path):
    """Every part file lands within 2x the target size, measured
    uncompressed (the gzip shards are decompressed to check)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .repartition(2)  # two fat partitions the writer must split
    )
    out = str(tmp_path / "sized")
    target_mb = 0.05  # ~51 KB so the 500-row table needs several shards
    n = export_jsonl(docs, out, target_shard_mb=target_mb)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == n and n >= 3
    limit = 2 * target_mb * 1024 * 1024
    for f in parts:
        with gzip.open(os.path.join(out, f)) as part:
            assert len(part.read()) <= limit, f


def test_jsonl_sizing_reads_a_sample_not_the_table(spark, tmp_path):
    """The sizing estimate must not serialize (or even evaluate) the
    whole table a second time: a side-effect counter on the source
    kernel shows the data is computed ~once — the write pass — plus at
    most one partition for the LIMIT sample."""
    marker_dir = tmp_path / "evals"
    marker_dir.mkdir()

    import pandas as pd

    # every partition holds more rows than the sizing sample reads
    n_parts = 4
    n_rows = 2 * n_parts * sinks._SAMPLE_ROWS

    base = spark.range(n_rows).repartition(n_parts)

    def kern(batches):
        import uuid

        for pdf in batches:
            with open(marker_dir / f"{uuid.uuid4().hex}.cnt", "w") as f:
                f.write(str(len(pdf)))
            yield pd.DataFrame({"id": pdf["id"], "text": ["x" * 100] * len(pdf)})

    df = base.mapInPandas(kern, schema="id bigint, text string")
    export_jsonl(df, str(tmp_path / "out"), target_shard_mb=1)
    evaluated = sum(
        int(open(marker_dir / f).read()) for f in os.listdir(marker_dir))
    # one full pass (write) + at most one partition's worth for sizing
    assert evaluated <= n_rows + n_rows // n_parts, evaluated


def test_jsonl_total_rows_merges_small_partitions(spark, tmp_path):
    """A shuffle-shaped input (many small partitions) with a known row
    count coalesces to the exact shard count instead of leaving one
    tiny file per partition."""
    df = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .repartition(32)  # worst case: 32 small shuffle partitions
    )
    n = df.count()
    out = str(tmp_path / "merged")
    shards = export_jsonl(df, out, target_shard_mb=256, total_rows=n)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert shards == 1 and len(parts) == 1  # ~500 KB corpus -> one shard
    assert spark.read.json(out).count() == n
