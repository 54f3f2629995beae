"""Layout stage: boilerplate classification + block refinement (S5).

The web re-expression of origami's biggest stage — the rule pipeline of
``batch/detect/layout.py`` + ``custom/layouts/bbz.py:50-86`` — as pure
DataFrame algebra (every rule is a filter / window / groupBy, no UDFs):

rule 1  frame removal       — ``HeuristicFrameDetector``
                              (``core/contours.py:354-426``): drop blocks
                              with chrome ancestry -> `filter`
rule 2  boilerplate filter  — link-density classifier + empty-block drop
                              (`AreaFilter` ``layout.py:872-883``;
                              `reliable_contours` ``batch/core/lines.py:
                              15-48``) -> `filter`
rule 3  adjacency merge     — `AdjacencyMerger`+`IsOnSameLine`
                              (``layout.py:369-468``): Voronoi adjacency
                              becomes DOM adjacency = window lag; the
                              connected-component merge becomes a running
                              group-id sum + groupBy span-union
rule 4  overlap dedupe      — `OverlapMerger` (``layout.py:471-500``):
                              contained-span drop via running max(end)
                              window (no O(n^2) self-join)

SEPARATOR rows ride through rules 1-3 as merge *barriers* (a separator
between two fragments must block their merge — `check_obstacles` analog,
``core/separate.py:64-72``) and drop at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# reclassification rescue: a TEXT block assigned to chrome whose own
# evidence says content — long enough and nearly link-free — is
# re-homed into the document instead of dropped.  The reference scores
# lines against segmentation evidence and re-homes when the predicted
# label beats the assigned one by a margin (batch/detect/lines.py:
# 108-127, core/block.py:71-102); the web evidence is the non-link
# character share (>= 0.8 = predicted TEXT decisively beats the chrome
# assignment), gated by a minimum length so one-word chrome labels
# ("Home") can never be rescued.  Thresholds are single-sourced in
# html/blocks.py, where the line-granularity form of the same rule
# runs at parse time.
from ..html.blocks import (
    LINK_DENSITY_MAX,
    RESCUE_MAX_LINK_SHARE,
    RESCUE_MIN_CHARS,
)

_SEQ_WIN = lambda: Window.partitionBy("url").orderBy("seq")  # noqa: E731


def classify(blocks: DataFrame) -> DataFrame:
    """Rules 1+2: survivors + separators (kept as merge barriers)."""
    is_sep = F.col("label") == "SEPARATOR"
    rescued = (
        (F.col("label") == "TEXT")
        & (F.col("text_len") >= RESCUE_MIN_CHARS)
        & (F.col("link_len")
           <= F.lit(RESCUE_MAX_LINK_SHARE) * F.col("text_len"))
    )
    survives = (
        (~F.col("in_chrome") | rescued)
        & (
            ((F.col("label") == "TABULAR") & (F.col("text") != ""))
            | (
                (F.col("label") == "TEXT")
                & (F.col("text_len") > 0)
                & (F.col("link_len") <= F.lit(LINK_DENSITY_MAX) * F.col("text_len"))
            )
        )
    )
    return blocks.filter(is_sep | survives)


def merge_adjacent(classified: DataFrame) -> DataFrame:
    """Rule 3: merge runs of single-line <p> fragments; then drop separators.

    Two OR'd criteria (must match extract_local.merge_with_prev), both
    over consecutive rows of the classified frame with both sides TEXT
    <p> single-line and the previous not sentence-terminal:

    * IsOnSameLine (reference layout.py:369-408): same DOM parent, only
      whitespace between them in the raw bytes — a paragraph split into
      sibling fragments.
    * IsBelow continuation (reference layout.py:411-440: vertical
      continuation within a line height, x-aligned): the blocks are
      adjacent in the FULL emitted sequence (seq difference 1 — nothing,
      not even a dropped or illustration block, sits between) and the
      raw gap holds only markup/whitespace/comments, parents free — a
      paragraph split across sibling containers (<div><p>..</p></div>
      <div><p>..</p></div>).  A separator between them occupies its own
      seq, so barriers hold by construction.
    """
    # pre-r4 staged s2 tables predate the rehomed column (kernel schema
    # addition): default it rather than crash the resume two stages
    # before export_xml's own missing-column guard would apply
    if "rehomed" not in classified.columns:
        classified = classified.withColumn("rehomed", F.lit(False))
    w = _SEQ_WIN()
    prev = lambda c: F.lag(c).over(w)  # noqa: E731
    both_p_single = (
        (F.col("label") == "TEXT")
        & (prev("label") == "TEXT")
        & (F.col("tag") == "p")
        & (prev("tag") == "p")
        & (F.col("n_lines") == 1)
        & (prev("n_lines") == 1)
        & (~prev("ends_clean"))
    )
    same_line = (
        (F.col("parent_id") == prev("parent_id"))
        & prev("ws_gap_next")
    )
    is_below = (
        (F.col("seq") == prev("seq") + 1)
        & prev("gap_markup_only_next")
    )
    mergeable = both_p_single & (same_line | is_below)
    with_groups = classified.withColumn(
        "grp",
        F.sum(F.when(mergeable, F.lit(0)).otherwise(F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    members = F.array_sort(
        F.collect_list(
            F.struct("seq", "path", "label", "tag", "start", "end", "text",
                     "n_lines", "text_len", "link_len", "line_spans",
                     "rehomed", "parent_id")
        )
    )
    merged = (
        with_groups.groupBy("url", "grp")
        .agg(members.alias("ms"))
        .select(
            "url",
            F.element_at("ms", 1)["seq"].alias("seq"),
            F.element_at("ms", 1)["path"].alias("path"),
            F.element_at("ms", 1)["label"].alias("label"),
            F.element_at("ms", 1)["start"].alias("start"),
            F.array_max(F.transform("ms", lambda m: m["end"])).alias("end"),
            F.array_join(F.transform("ms", lambda m: m["text"]), " ").alias("text"),
            F.aggregate("ms", F.lit(0), lambda acc, m: acc + m["n_lines"]).alias("n_lines"),
            F.aggregate("ms", F.lit(0).cast("bigint"), lambda acc, m: acc + m["text_len"]).alias("text_len"),
            F.aggregate("ms", F.lit(0).cast("bigint"), lambda acc, m: acc + m["link_len"]).alias("link_len"),
            F.slice(F.transform("ms", lambda m: m["path"]), 2, 100000).alias("merged_from"),
            # free-line provenance for the PAGE-XML MergedTextRegion
            # grouping (export_xml.py): a group is a free line iff its
            # first member was re-homed out of chrome
            F.element_at("ms", 1)["rehomed"].alias("rehomed"),
            F.element_at("ms", 1)["parent_id"].alias("parent_id"),
            # merged fragments fuse into ONE logical line -> one hull
            # span (link evidence = sum of the single-line members');
            # single-member groups keep their per-line spans
            F.when(
                F.size("ms") > 1,
                F.array(F.struct(
                    F.element_at("ms", 1)["start"].alias("start"),
                    F.array_max(F.transform("ms", lambda m: m["end"])).alias("end"),
                    F.aggregate("ms", F.lit(0).cast("bigint"),
                                lambda acc, m: acc + m["link_len"]).alias("link_len"),
                )),
            ).otherwise(F.element_at("ms", 1)["line_spans"]).alias("line_spans"),
        )
    )
    return merged.filter(F.col("label") != "SEPARATOR")


def drop_contained(refined: DataFrame) -> DataFrame:
    """Rule 4: drop a block whose span is contained in an earlier block,
    and give every survivor its *exclusive* span.

    Ordered by (start, seq) per url, a row is contained iff the running
    max of `end` over all *preceding* rows already covers its `end`
    (preceding starts are <= its start by the sort).  O(n) window instead
    of an O(n^2) span self-join — the 1-D gift the 2-D reference never
    had.

    ``excl_start`` is the TextAreaFactory analog (reference
    ``core/block.py:428-443``: a block's text area = its polygon minus
    sibling polygons): the survivor's span minus the bytes already owned
    by earlier blocks — `greatest(start, running max end)`.  In 1-D the
    subtraction collapses to trimming the front, computed from the SAME
    window, so [excl_start, end) ranges of a page never overlap
    (partially-overlapping tag-soup hulls partition cleanly)."""
    w = (
        Window.partitionBy("url")
        .orderBy("start", "seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        refined.withColumn("_maxend", F.max("end").over(w))
        .filter(F.col("_maxend").isNull() | (F.col("end") > F.col("_maxend")))
        .withColumn(
            "excl_start",
            F.greatest("start", F.coalesce("_maxend", F.col("start"))),
        )
        .drop("_maxend")
    )


def refine(blocks: DataFrame) -> DataFrame:
    """Full layout stage: classify -> merge -> dedupe.  (Line-level
    re-homing happens at parse time in html/blocks.extract_page, shared
    verbatim by the fused kernel, this relational chain, and the local
    oracle.)"""
    return drop_contained(merge_adjacent(classify(blocks)))
