"""Compose stage (S8) — final text assembly, entirely in Catalyst.

PlainTextComposition analog (reference ``batch/detect/compose.py:
565-585``): blocks in reading order, '\\n\\n' between blocks, trailing
'\\n' when non-empty; pages with no surviving blocks produce "".

Everything here is built-in expressions (groupBy + array_sort +
transform + array_join + concat), so the whole stage is JVM-side
whole-stage-codegen — zero Python in the assembly path.  The spans
output indexes into the *raw* html bytes (rewarp analog,
``compose.py:413-432``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPOSE_SCHEMA_HINT = (
    "url string, text string, "
    "spans array<struct<path:string,label:string,start:bigint,end:bigint>>"
)


def compose(ranked: DataFrame, pages: DataFrame) -> DataFrame:
    """ranked blocks (rank,text,path,label,start,end) + pages -> S8 table.

    `pages` supplies the full url universe so documents with zero
    surviving blocks still emit a row with text='' (a page with no
    reliable regions still gets a compose artifact in the reference).

    It enforces the ``Document.get`` invariant (reference
    ``batch/detect/compose.py:451-466`` hard-errors when a referenced
    region is missing): every ranked block must land in exactly one
    compose row.  A left join from `pages` would silently DROP ranked
    rows whose url is missing from the page universe, so the join is
    full-outer and the text expression raises for any row with no page
    side.  One join, no second pass over the block lineage; the error
    fires whenever result rows actually materialize (write/collect — a
    bare count() never evaluates columns, like any Spark projection)."""
    per_url = ranked.groupBy("url").agg(
        F.array_sort(
            F.collect_list(F.struct("rank", "path", "label", "start", "end", "text"))
        ).alias("bs")
    )
    assembled = per_url.select(
        "url",
        F.concat(
            F.array_join(F.transform("bs", lambda b: b["text"]), "\n\n"),
            F.lit("\n"),
        ).alias("text"),
        F.transform(
            "bs",
            lambda b: F.struct(
                b["path"].alias("path"),
                b["label"].alias("label"),
                b["start"].alias("start"),
                b["end"].alias("end"),
            ),
        ).alias("spans"),
    )
    empty_spans = F.expr(
        "cast(array() as array<struct<path:string,label:string,"
        "start:bigint,end:bigint>>)"
    )
    pg = pages.select("url", F.lit(True).alias("_in_universe"))
    text = F.when(
        F.col("_in_universe").isNull(),
        F.raise_error(
            F.concat(
                F.lit("compose invariant violated: ranked block for url "
                      "absent from page universe: "),
                "url",
            )
        ),
    ).otherwise(F.coalesce("text", F.lit("")))
    return (
        pg.join(assembled, "url", "full_outer")
        .select(
            "url",
            text.alias("text"),
            F.coalesce("spans", empty_spans).alias("spans"),
        )
    )
