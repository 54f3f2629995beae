"""Extraction-pipeline gates; rows-only except lines_confidence_checked."""

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from origami_spark.pipeline import extract
from origami_spark.sources.corpus import PAGES_SCHEMA, generate_page

from gates import ROWS_ONLY, _STAGE_DIR, _staged, _t, gate

LINES_EVIDENCE_PATH = os.path.join(_STAGE_DIR, "lines_evidence.parquet")


def _pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Common-Crawl-style pages keyed by doc_id (seed=42).

    The corpus generator is a pure function of (seed, doc_id), so the
    same sf_dir always yields the same pages on any cluster."""
    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([generate_page(42, int(i)) for i in pdf["doc_id"]])

    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)


@gate(ROWS_ONLY)
def extract_compose(spark, sf):
    pages = _pages_from_documents(spark, sf)
    out = extract(spark, pages)
    return out.select("url", "text", F.size("spans").alias("n_blocks"))


@gate(ROWS_ONLY)
def extract_blocks(spark, sf):
    from origami_spark.pipeline import parse_stage

    pages = _pages_from_documents(spark, sf)
    return parse_stage(pages).select(
        "url", "seq", "path", "label", "start", "end", "text_len", "link_len"
    )


@gate(ROWS_ONLY)
def lines_confidence(spark, sf):
    """S6 lines with real per-line confidence (non-link char share —
    ConfidenceSampler analog).  Rows-only like the other extraction
    entries (DuckDB cannot parse HTML); the value semantics are pinned
    by tests/test_lines.py::test_line_confidence_real and the staged
    artifact tests — and the arithmetic itself is hash-gated by the
    ``lines_confidence_checked`` companion below."""
    from origami_spark.operators.layout import refine
    from origami_spark.operators.lines import lines_table
    from origami_spark.pipeline import parse_stage

    pages = _pages_from_documents(spark, sf)
    return lines_table(refine(parse_stage(pages))).select(
        "url", "path", "line_id", "raw_start", "raw_end", "confidence"
    )


# the confidence ARITHMETIC over the evidence the Spark query staged
# (lines_confidence_checked writes it before returning); DuckDB
# reruns the identical division/rounding/labeling over that file
@gate(f"""
        SELECT url, block_path, line_id, line_len, link_len,
               round(CAST(line_len - link_len AS DOUBLE) / line_len, 4)
                 AS confidence,
               CASE WHEN round(CAST(line_len - link_len AS DOUBLE)
                               / line_len, 4) >= 0.5
                    THEN 'TEXT' ELSE 'LINK' END AS predicted_label
        FROM '{LINES_EVIDENCE_PATH}/*.parquet'""")
def lines_confidence_checked(spark, sf):
    """Hash-gated companion to ``lines_confidence``: DuckDB cannot parse
    HTML, but the confidence ARITHMETIC (link chars -> non-link share ->
    predicted label, operators/lines.py:50-76) is pure relational math.
    The parse kernel stages its per-line evidence (line_len, link_len)
    to parquet; this query computes the arithmetic over the staged
    columns and the DuckDB oracle runs the identical SQL over the same
    file — so the one formerly rows-only number is now value-checked."""
    from origami_spark.operators.layout import refine
    from origami_spark.pipeline import parse_stage

    pages = _pages_from_documents(spark, sf)
    refined = refine(parse_stage(pages))
    evidence = refined.select(
        "url",
        F.col("path").alias("block_path"),
        F.posexplode(
            F.arrays_zip(F.split("text", "\n"), F.col("line_spans"))
        ).alias("pos", "z"),
    ).select(
        "url",
        "block_path",
        (F.col("pos") + 1).cast("bigint").alias("line_id"),
        F.length(F.col("z")["0"]).cast("bigint").alias("line_len"),
        F.coalesce(F.col("z")["line_spans"]["link_len"], F.lit(0))
        .cast("bigint").alias("link_len"),
    ).filter(F.col("line_len") > 0)
    evidence.write.mode("overwrite").parquet(_staged(LINES_EVIDENCE_PATH))

    staged = spark.read.parquet(LINES_EVIDENCE_PATH)
    conf = F.round(
        (F.col("line_len") - F.col("link_len")).cast("double")
        / F.col("line_len"),
        4,
    )
    return staged.select(
        "url", "block_path", "line_id", "line_len", "link_len",
        conf.alias("confidence"),
        F.when(conf >= 0.5, F.lit("TEXT")).otherwise(F.lit("LINK"))
        .alias("predicted_label"),
    )
