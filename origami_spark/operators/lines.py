"""Lines stage (S6): per-block line records.

Reference analog: the `lines` batch re-detects baselines per reliable
block and scores each line (``batch/detect/lines.py:57-144``); compose
then slices OCR text by line (``batch/core/lines.py:85-149``,
``LineRewriter._column_path``).  For web text the lines already exist in
the normalized block text ('\\n'-joined), so the stage is a pure
`posexplode` — the LineRewriter's table-line-to-column explode is the
same built-in (SURVEY.md §2.8).

Line confidence: the reference samples segmentation labels under each
line to get per-class evidence (``ConfidenceSampler``, ``lines.py:
25-54``).  The web analog scores each line by how much of it looks like
content vs chrome: fraction of non-link characters — 1.0 for pure text,
dropping toward 0 for fully-linked lines.  The evidence (per-line
normalized link-char count) is collected in the parse kernel
(html/blocks._inline_text) and carried through layout in the
``line_spans`` struct; this stage only divides.  Blocks were already
link-filtered, so this is a per-line refinement signal, not a gate —
the *block-level* form of the same evidence also drives the
reclassification rescue in operators/layout.classify (reference
re-homing, ``batch/detect/lines.py:108-127``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lines_table(refined: DataFrame) -> DataFrame:
    """refined blocks (url, path, label, start, end, text, ...) ->
    (url, path, block_path, line_id, text, confidence).

    Line ids are 1-based within their block; path extends the block path
    (origami line paths are block path + line index, docs/formats.md:219).
    """
    has_spans = "line_spans" in refined.columns
    zipped = (
        F.arrays_zip(F.split("text", "\n"), F.col("line_spans"))
        if has_spans
        else F.arrays_zip(F.split("text", "\n"))
    )
    exploded = refined.select(
        "url",
        F.col("path").alias("block_path"),
        "label",
        F.posexplode(zipped).alias("line_id", "z"),
    )
    link_len = (
        F.coalesce(F.col("z")["line_spans"]["link_len"], F.lit(0))
        if has_spans
        else F.lit(0).cast("bigint")
    )
    # non-link character share: 1.0 for pure text, -> 0 for a fully
    # linked line (the per-class evidence the reference samples per line)
    confidence = F.round(
        (F.length(F.col("z")["0"]) - link_len).cast("double")
        / F.length(F.col("z")["0"]),
        4,
    )
    return exploded.select(
        "url",
        F.concat_ws("/", "block_path", (F.col("line_id") + 1).cast("string")).alias("path"),
        "block_path",
        (F.col("line_id") + 1).alias("line_id"),
        F.col("z")["0"].alias("text"),
        (F.col("z")["line_spans"]["start"] if has_spans else F.lit(None).cast("bigint")).alias("raw_start"),
        (F.col("z")["line_spans"]["end"] if has_spans else F.lit(None).cast("bigint")).alias("raw_end"),
        confidence.alias("confidence"),
        # Line.predicted_path analog (core/block.py:71-102): the label
        # the line's own evidence argues for — majority-link lines look
        # like navigation regardless of the block that holds them
        F.when(confidence >= 0.5, F.lit("TEXT"))
        .otherwise(F.lit("LINK")).alias("predicted_label"),
    ).filter(F.length(F.col("z")["0"]) > 0)
