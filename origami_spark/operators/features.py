"""Features stage (S4): per-block numeric feature columns.

The flow/dewarp analog (SURVEY.md §2.3-2.4): origami fits per-page
numeric models (skew samples -> interpolated dewarp grid); the web
re-expression is per-block feature columns computed entirely in Catalyst
expressions — text density, link density, tag-path depth, line-length
stats (median line length = ``median_line_height`` analog,
``layout.py:319-326``).

Offset maps: origami keeps forward + inverse grids (``Grid``/
``Transformer``, ``core/dewarp.py:496-576``) because compose must map
normalized coords back to the warped page.  Here the raw<->normalized
mapping is carried implicitly: every block/line row keeps its raw byte
span (start, end) next to its normalized text, which is exactly the
inverse map at the granularity compose needs (span output per url);
a character-level map would add O(doc_len) state per row for no
consumer — decision documented per FIXTURES.md §2 S4 note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def block_features(blocks: DataFrame) -> DataFrame:
    """blocks (url, path, label, start, end, text, n_lines, text_len,
    link_len, tag_path, depth) -> + density/line-stat feature columns."""
    line_lens = F.transform(F.split("text", "\n"), lambda x: F.length(x))
    sorted_lens = F.array_sort(line_lens)
    n = F.size(sorted_lens)
    # exact median over the (small) per-block line-length array
    median = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(
            n % 2 == 1,
            F.element_at(sorted_lens, ((n + 1) / 2).cast("int")).cast("double"),
        )
        .otherwise(
            (
                F.element_at(sorted_lens, (n / 2).cast("int"))
                + F.element_at(sorted_lens, (n / 2 + 1).cast("int"))
            ).cast("double")
            / 2.0
        )
    )
    return blocks.select(
        "url",
        "path",
        "label",
        "start",
        "end",
        "text_len",
        "link_len",
        "n_lines",
        F.col("depth").alias("tag_path_depth"),
        F.round(
            F.col("text_len").cast("double")
            / F.greatest(F.col("end") - F.col("start"), F.lit(1)),
            6,
        ).alias("text_density"),
        F.round(
            F.col("link_len").cast("double") / F.greatest("text_len", F.lit(1)),
            6,
        ).alias("link_density"),
        F.round(median, 2).alias("median_line_len"),
        F.round(
            F.aggregate(line_lens, F.lit(0).cast("bigint"), lambda a, x: a + x)
            .cast("double")
            / F.greatest(F.size(line_lens), F.lit(1)),
            2,
        ).alias("mean_line_len"),
        *_separator_border_features(),
    )


def _separator_border_features():
    """Separator-context + page-border feature columns (all windows over
    the same per-url partitioning the rest of the pipeline shuffles on —
    no extra exchange).

    * dist_prev_sep / dist_next_sep — byte distance to the nearest
      separator before/after the block (NULL when none): the
      ``add_separator_skew`` analog (reference ``batch/detect/flow.py:
      238-268`` samples skew around each separator; the web feature is
      content density around separators, which these distances encode
      in 1-D).
    * rel_to_header / rel_to_footer — byte offset from the first /
      last non-chrome content position of the page: the
      ``BorderEstimator`` analog (reference ``flow.py:157-235`` fits the
      page frame and emits header/footer cut positions; here the cuts
      are the content hull over the block table).
    """
    w_prev = (
        Window.partitionBy("url").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("url").orderBy("seq")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_url = Window.partitionBy("url")
    is_sep = F.col("label") == "SEPARATOR"
    is_content = (~F.col("in_chrome")) & (~is_sep) & (F.col("text_len") > 0)
    prev_sep_end = F.max(F.when(is_sep, F.col("end"))).over(w_prev)
    next_sep_start = F.min(F.when(is_sep, F.col("start"))).over(w_next)
    header_cut = F.min(F.when(is_content, F.col("start"))).over(w_url)
    footer_cut = F.max(F.when(is_content, F.col("end"))).over(w_url)
    return [
        (F.col("start") - prev_sep_end).alias("dist_prev_sep"),
        (next_sep_start - F.col("end")).alias("dist_next_sep"),
        (F.col("start") - header_cut).alias("rel_to_header"),
        (footer_cut - F.col("end")).alias("rel_to_footer"),
    ]
