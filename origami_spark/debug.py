"""Per-url extraction explainer — the eyeballing aid.

The reference ships six annotate batches that paint blocks / separators
/ lines / reading order onto the page image for visual inspection
(``batch/annotate/{contours,flow,grid,layout,lines,utils}.py``).  The
web analog is tabular: for one url (or a few), every parsed block with
the classification rules it hit, what it merged into, and its final
reading-order rank — enough to answer "why is/isn't this text in the
output?" without stepping through the pipeline.

Driver-friendly: ``explain_extraction(spark, pages, url)`` returns a
small DataFrame (one row per parsed block, document order);
``explain_extraction_text`` renders it as the psql-style table for a
terminal.  Everything is computed with the SAME operators the pipeline
runs (classify / merge / rank), so the explanation can never drift from
the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import layout as layout_op
from .operators import order as order_op
from .session import cache, cache_scope


def explain_extraction(spark: SparkSession, pages: DataFrame,
                       url: str | None = None) -> DataFrame:
    """One row per parsed block: rule outcomes + merge provenance + rank.

    Columns: url, seq, path, label, tag, span (start/end), text head,
    rule_outcome ('kept' | the rule that removed it | 'merged into X' |
    'barrier'), rank (reading order, null unless kept).  The parsed
    blocks are cached; materialize the result inside a ``cache_scope()``
    to release them.
    """
    from .pipeline import parse_stage

    src = pages.filter(F.col("url") == url) if url is not None else pages
    blocks = parse_stage(src, partitions=1 if url is not None else None) \
        .transform(cache)

    classified = layout_op.classify(blocks)
    refined = layout_op.refine(blocks)
    ranked = order_op.rank_blocks(refined)

    # merge provenance: which surviving path each original path landed in
    merged_into = ranked.select(
        "url", F.col("path").alias("into_path"),
        F.explode("merged_from").alias("path"),
    )
    survivors = ranked.select(
        "url", "path", "rank",
        F.lit("kept").alias("outcome"),
    )
    absorbed = merged_into.select(
        "url", "path", F.lit(None).cast("int").alias("rank"),
        F.concat(F.lit("merged into "), "into_path").alias("outcome"),
    )
    kept_or_merged = survivors.unionByName(absorbed)

    classified_paths = classified.select(
        "url", "path", F.lit(True).alias("survived_classify"))

    rule = (
        F.when(F.col("outcome").isNotNull(), F.col("outcome"))
        .when(F.col("label") == "SEPARATOR", F.lit("barrier (dropped after merge)"))
        .when(F.col("survived_classify").isNotNull(),
              F.lit("dropped: contained in an earlier span"))
        .when(F.col("in_chrome"), F.lit("dropped: chrome ancestry (no rescue)"))
        .when(F.col("label") == "ILLUSTRATION", F.lit("dropped: illustration"))
        .when((F.col("label") == "TABULAR"),
              F.lit("dropped: empty table"))
        .when(F.col("text_len") == 0, F.lit("dropped: empty"))
        .when(F.col("link_len") * 2 > F.col("text_len"),
              F.lit("dropped: link density > 0.5"))
        .otherwise(F.lit("dropped: unclassified"))
    )

    return (
        blocks.join(classified_paths, ["url", "path"], "left")
        .join(kept_or_merged, ["url", "path"], "left")
        .select(
            "url", "seq", "path", "label", "tag", "start", "end",
            "text_len", "link_len",
            F.col("in_chrome").alias("chrome"),
            rule.alias("rule_outcome"),
            "rank",
            F.substring("text", 1, 48).alias("text_head"),
        )
        .orderBy("url", "seq")
    )


def explain_extraction_text(spark: SparkSession, pages: DataFrame,
                            url: str) -> str:
    """The same explanation rendered as a psql-style table string."""
    from .html.render import render_table

    with cache_scope():
        rows = explain_extraction(spark, pages, url).collect()
    header = ["seq", "path", "label", "span", "rule_outcome", "rank", "text"]
    body = [
        [str(r["seq"]), r["path"], r["label"],
         f"{r['start']}..{r['end']}", r["rule_outcome"],
         "" if r["rank"] is None else str(r["rank"]),
         r["text_head"] or ""]
        for r in rows
    ]
    return render_table([header] + body, has_header=True)
