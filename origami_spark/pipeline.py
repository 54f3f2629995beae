"""The extraction pipeline: pages -> blocks -> layout -> order -> compose.

Two execution modes:

* ``extract(spark, pages)`` — one lazy DataFrame chain; Catalyst fuses
  the relational stages, best for benchmarks and interactive use.
* ``extract_staged(spark, pages, work_dir)`` — origami-style artifact
  chain: every stage commits a checkpoint table and is resumable via
  anti-join (plans/runner.py), with per-partition lineage.  This is the
  10^12-document deployment shape: any stage can die and rerun without
  recomputing finished documents.

Physical plan per SURVEY.md §4: scan -> (anti-join done) -> repartition
by url-hash -> mapInPandas(parse kernel) -> window/groupBy relational
rules co-partitioned on url -> compose.  The parse kernel is the only
Python; everything after it is whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.parse import BLOCKS_SCHEMA, parse_blocks
from .operators import compose as compose_op
from .operators import layout as layout_op
from .operators import order as order_op
from .plans.runner import run_stage


def parse_stage(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """S1+S2: pages -> exploded block rows.

    The explicit url-hash repartition before the kernel is the SURVEY §4
    physical plan's one-shuffle-per-stage: it (a) balances documents
    across executors regardless of host skew (urls are unique, so hot
    hosts cannot gang up in one partition) and (b) decouples kernel
    parallelism from scan-split granularity — html compresses well, so a
    128 MB parquet split can hold 10^5 documents and would otherwise
    starve the CPU-bound parse kernel of tasks.  Size skew within a task
    is bounded by the Arrow max-records batch knob in session.py."""
    src = pages.select("url", "html")
    n = partitions or src.sparkSession.sparkContext.defaultParallelism * 4
    return src.repartition(n, "url").mapInPandas(parse_blocks, schema=BLOCKS_SCHEMA)


def extract(spark: SparkSession, pages: DataFrame,
            partitions: int | None = None) -> DataFrame:
    """Single lazy chain: (url, text, spans) for every input page."""
    blocks = parse_stage(pages, partitions)
    refined = layout_op.refine(blocks)
    ranked = order_op.rank_blocks(refined)
    return compose_op.compose(ranked, pages)


FUSED_SCHEMA = (
    "url string, text string, "
    "spans array<struct<path:string,label:string,start:bigint,end:bigint>>"
)


def _fused_kernel(batches):
    import pandas as pd

    from .extract_local import extract_document

    for pdf in batches:
        urls, texts, spans = [], [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            r = extract_document(bytes(html) if html is not None else b"")
            urls.append(url)
            texts.append(r["text"])
            # Arrow reads only the struct's fields (path, label, start,
            # end) from each block dict
            spans.append(r["blocks"])
        yield pd.DataFrame({"url": urls, "text": texts, "spans": spans})


def extract_fused(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """Zero-shuffle-after-repartition fast path: the full rule sequence
    runs per document inside one Arrow kernel.

    This is the reference's own execution shape (one page = one unit of
    local work, ``processor.py:396-441``) and the throughput winner: the
    relational `extract` pays three exchanges of exploded block text to
    make each rule a visible DataFrame operator; at 10^12 documents the
    embarrassingly-parallel form saves that traffic entirely.  Both
    paths are golden-tested byte-identical to the same fixtures; the
    staged/resumable deployment (extract_staged) keeps the relational
    form because its checkpoint tables are the resume + lineage story.

    One kernel task per core: a finer fan-out pays each Python task's
    start-up again for balance the url hash already gives (perfbench on
    4 cores: one task per core beat four in 9 of 10 interleaved
    extract-fused pairs, and corpus-build did not slow).
    """
    src = pages.select("url", "html")
    n = src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(n, "url").mapInPandas(_fused_kernel, schema=FUSED_SCHEMA)


def extract_staged(spark: SparkSession, pages: DataFrame, work_dir: str,
                   partitions: int | None = None,
                   run_id: str | None = None,
                   artifacts: bool = False) -> DataFrame:
    """Checkpointed chain with resume + lineage (see plans/runner.py).

    `artifacts=True` additionally commits the side artifact tables the
    reference writes per page (s4_features <- flow/dewarp features,
    s6_lines <- lines.3, s6_tables <- tables.json, s7_orders <-
    order.json) — each resumable and lineage-tracked like the main
    chain."""
    blocks = run_stage(
        spark, "s2_blocks", pages,
        lambda df: parse_stage(df, partitions), work_dir, run_id=run_id,
    )
    refined = run_stage(
        spark, "s5_layout", blocks, layout_op.refine, work_dir, run_id=run_id,
    )
    ranked = run_stage(
        spark, "s7_order", refined, order_op.rank_blocks, work_dir, run_id=run_id,
    )
    if artifacts:
        from .operators import features as features_op
        from .operators import lines as lines_op
        from .operators import tables as tables_op

        run_stage(spark, "s4_features", blocks, features_op.block_features,
                  work_dir, run_id=run_id)
        run_stage(spark, "s6_tables", blocks, tables_op.table_cells,
                  work_dir, run_id=run_id)
        run_stage(spark, "s6_lines", refined, lines_op.lines_table,
                  work_dir, run_id=run_id)
        run_stage(spark, "s7_orders_map", ranked, order_op.orders_table,
                  work_dir, run_id=run_id)
    # compose resumes on the page universe: only not-yet-composed urls
    # (the `pg` passed to build) pull their ranked blocks via semi-join
    return run_stage(
        spark, "s8_compose", pages,
        lambda pg: compose_op.compose(
            ranked.join(pg.select("url"), "url", "left_semi"), pg),
        work_dir, run_id=run_id,
    )
