"""XML export of composed documents (PAGE-XML analog, closes the one
deferred §2.9 row).

Reference: ``export_page_xml`` emits a PAGE-XML document with region
reading-order references (``batch/detect/compose.py:640-669``).  The
web re-expression keeps the structure — document element, ordered
block elements with ids and raw-byte coordinates (the PAGE-XML Coords
analog), text content — but uses a plain XML dialect since PAGE-XML's
schema is image-specific (points, baselines).

Entirely Catalyst expressions: escaping via regexp_replace chain,
assembly via transform + array_join — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _esc(col) -> Column:
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    # attribute contexts are double-quoted; urls are user-controlled
    c = F.regexp_replace(c, '"', "&quot;")
    return c


def to_xml(composed: DataFrame) -> DataFrame:
    """compose output (url, text, spans) -> (url, xml).

    Block text is re-sliced from `spans` positions?  No — compose has
    already joined block texts with '\\n\\n'; the XML carries the block
    *structure* (path, label, raw-byte span) plus the full composed
    text, which is exactly the information the reference's XML adds
    over page.txt (reading order + region geometry)."""
    blocks_xml = F.array_join(
        F.transform(
            "spans",
            lambda s: F.concat(
                F.lit('  <Block id="'), _esc(s["path"]),
                F.lit('" label="'), _esc(s["label"]),
                F.lit('" start="'), s["start"].cast("string"),
                F.lit('" end="'), s["end"].cast("string"),
                F.lit('"/>'),
            ),
        ),
        "\n",
    )
    order_xml = F.array_join(
        F.transform("spans", lambda s: F.concat(
            F.lit('    <Ref idref="'), _esc(s["path"]), F.lit('"/>'))),
        "\n",
    )
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n<Document url="'),
        _esc(F.col("url")),
        F.lit('">\n  <ReadingOrder>\n'),
        order_xml,
        F.lit("\n  </ReadingOrder>\n"),
        blocks_xml,
        F.lit("\n  <Text>"),
        _esc(F.col("text")),
        F.lit("</Text>\n</Document>\n"),
    )
    return composed.select("url", xml.alias("xml"))


# PRImA PAGE-XML 2019-07-15 — the schema the reference validates against
# (pagexml/pagexml.py:12, pagexml/pagecontent.xsd); both are public.
PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"

_LNS_T = ("array<struct<line_id:bigint,lstart:bigint,"
          "lend:bigint,ltext:string>>")


def merge_free_line_regions(ranked: DataFrame) -> DataFrame:
    """``RegionReadingOrder``/``MergedTextRegion`` analog (reference
    ``batch/detect/compose.py:481-562``): the reference walks the
    reading order and groups consecutive regionless free LINES into a
    synthetic merged region.  The engine's free lines are the chrome
    re-homed single-line blocks (``html/blocks.py`` re-homing,
    ``rehomed=True``): a run of them that is adjacent in reading order,
    shares the origin parent element and the label collapses into ONE
    region whose ``TextLine`` children are the member lines (each line
    keeps its own raw-byte coords — the member span IS its line hull).
    Ranks are re-numbered so ReadingOrder indices stay contiguous.

    Output schema: url, rank, path (first member's), label, start/end
    (span union), text (member texts joined with newlines, the
    MergedTextRegion transcription), merged_n, lns_pre (the synthetic
    TextLine array for merged regions, else NULL).  Passthrough shape
    (merged_n=1, lns_pre NULL) when the input has no ``rehomed``
    column (pre-r4 staged tables)."""
    from pyspark.sql import Window

    if "rehomed" not in ranked.columns:
        return ranked.select(
            "url", "rank", "path", "label", "start", "end", "text",
            F.lit(1).alias("merged_n"),
            F.lit(None).cast(_LNS_T).alias("lns_pre"),
        )
    w = Window.partitionBy("url").orderBy("rank")
    run = (
        F.col("rehomed")
        & F.lag("rehomed").over(w)
        & (F.col("parent_id") == F.lag("parent_id").over(w))
        & (F.col("label") == F.lag("label").over(w))
        & (F.col("rank") == F.lag("rank").over(w) + 1)
    )
    g = ranked.withColumn(
        "_mg",
        F.sum(F.when(run, F.lit(0)).otherwise(F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    ms = F.array_sort(
        F.collect_list(F.struct("rank", "path", "label", "start", "end",
                                "text")))
    first = F.element_at("ms", 1)
    merged = (
        g.groupBy("url", "_mg")
        .agg(ms.alias("ms"))
        .select(
            "url",
            first["rank"].alias("_rank0"),
            first["path"].alias("path"),
            first["label"].alias("label"),
            F.array_min(F.transform("ms", lambda m: m["start"])).alias("start"),
            F.array_max(F.transform("ms", lambda m: m["end"])).alias("end"),
            F.array_join(
                F.transform("ms", lambda m: m["text"]), "\n").alias("text"),
            F.size("ms").alias("merged_n"),
            F.when(
                F.size("ms") > 1,
                F.transform(
                    "ms",
                    lambda m, i: F.struct(
                        (i + 1).cast("bigint").alias("line_id"),
                        m["start"].alias("lstart"),
                        m["end"].alias("lend"),
                        m["text"].alias("ltext"),
                    ),
                ),
            ).cast(_LNS_T).alias("lns_pre"),
        )
    )
    return merged.withColumn(
        "rank", F.row_number().over(Window.partitionBy("url").orderBy("_rank0"))
    ).drop("_rank0")


def to_page_xml(ranked: DataFrame, creator: str = "origami_spark",
                lines: DataFrame | None = None,
                merge_free_lines: bool = True) -> DataFrame:
    """ranked blocks (url, rank, path, label, start, end, text) ->
    (url, xml) conforming to the PAGE-XML 2019-07-15 schema contract —
    the standard interchange the reference emits (pagexml/pagexml.py):

    * ``PcGts`` root in the PAGE namespace: ``Metadata`` (Creator,
      Created, LastChange — xs:dateTime, fixed input so output is
      deterministic) then ``Page``
    * ``Page`` carries the required imageFilename/imageWidth/imageHeight
      (url; document char extent; 1 — the page is 1-D, so spans map to
      degenerate height-1 rectangles in the PointsType coordinate space)
    * ``ReadingOrder``/``OrderedGroup``/``RegionRefIndexed index=0..n-1``
      referencing each region, in rank order
    * one ``TextRegion`` per block: required ``Coords points`` (4-point
      span rectangle matching the XSD PointsType pattern),
      ``TextEquiv``/``Unicode`` with the block text, and the engine's
      label + block path in ``custom``
    * optionally, pass the S6 ``lines`` table
      (operators/lines.lines_table output) to nest ``TextLine``
      children — the reference's transcription layer
      (pagexml/transcriptions.py): per line an id ``r_N_lM``, required
      ``Coords`` from the raw char span, and ``TextEquiv``/``Unicode``

    Entirely Catalyst (transform + array_join), like ``to_xml``.  Pages
    with zero surviving blocks produce no row (left-join against the
    page universe to see them)."""
    from xml.sax.saxutils import escape

    # header params are driver-side strings: escape at build time (data
    # columns go through _esc)
    creator = escape(creator)
    if merge_free_lines:
        # reference semantics by default: consecutive free lines become
        # one MergedTextRegion whose TextLine children are the members
        # (see merge_free_line_regions); their synthetic lns_pre wins
        # over the joined lines table below
        ranked = merge_free_line_regions(ranked)
    else:
        ranked = ranked.select(
            "url", "rank", "path", "label", "start", "end", "text",
            F.lit(1).alias("merged_n"),
            F.lit(None).cast(_LNS_T).alias("lns_pre"),
        )
    if lines is not None:
        per_block = lines.groupBy(
            F.col("url").alias("l_url"),
            F.col("block_path").alias("l_path"),
        ).agg(
            F.array_sort(
                F.collect_list(F.struct(
                    "line_id",
                    F.col("raw_start").alias("lstart"),
                    F.col("raw_end").alias("lend"),
                    F.col("text").alias("ltext"),
                ))
            ).alias("lns")
        )
        blocks = ranked.join(
            per_block,
            (ranked["url"] == per_block["l_url"])
            & (ranked["path"] == per_block["l_path"]),
            "left",
        ).drop("l_url", "l_path")
    else:
        blocks = ranked.withColumn("lns", F.lit(None).cast(_LNS_T))
    regions = blocks.groupBy("url").agg(
        F.array_sort(
            F.collect_list(
                F.struct("rank", "path", "label", "start", "end", "text",
                         F.coalesce("lns_pre", "lns").alias("lns"),
                         "merged_n"))
        ).alias("rs"),
        F.max("end").cast("string").alias("width"),
    )
    refs = F.array_join(
        F.transform("rs", lambda r: F.concat(
            F.lit('        <RegionRefIndexed index="'),
            (r["rank"] - 1).cast("string"),
            F.lit('" regionRef="r_'), r["rank"].cast("string"),
            F.lit('"/>'),
        )),
        "\n",
    )
    def lines_xml(r):
        # TextLine children (XSD order: TextLine* before TextEquiv);
        # absent/NULL raw spans fall back to the block span
        one = lambda ln: F.concat(  # noqa: E731
            F.lit('      <TextLine id="r_'), r["rank"].cast("string"),
            F.lit("_l"), ln["line_id"].cast("string"),
            F.lit('">\n        <Coords points="'),
            F.coalesce(ln["lstart"], r["start"]).cast("string"),
            F.lit(",0 "),
            F.coalesce(ln["lend"], r["end"]).cast("string"),
            F.lit(",0 "),
            F.coalesce(ln["lend"], r["end"]).cast("string"),
            F.lit(",1 "),
            F.coalesce(ln["lstart"], r["start"]).cast("string"),
            F.lit(',1"/>\n        <TextEquiv><Unicode>'),
            _esc(ln["ltext"]),
            F.lit("</Unicode></TextEquiv>\n      </TextLine>\n"),
        )
        return F.when(
            r["lns"].isNull() | (F.size(r["lns"]) == 0), F.lit("")
        ).otherwise(F.array_join(F.transform(r["lns"], one), ""))

    regions_xml = F.array_join(
        F.transform("rs", lambda r: F.concat(
            F.lit('    <TextRegion id="r_'), r["rank"].cast("string"),
            F.lit('" type="paragraph" custom="'),
            _esc(F.concat(
                F.lit("label:"), r["label"],
                F.lit("; path:"), r["path"],
                F.when(r["merged_n"] > 1,
                       F.concat(F.lit("; merged-lines:"),
                                r["merged_n"].cast("string")))
                .otherwise(F.lit("")))),
            F.lit('">\n      <Coords points="'),
            r["start"].cast("string"), F.lit(",0 "),
            r["end"].cast("string"), F.lit(",0 "),
            r["end"].cast("string"), F.lit(",1 "),
            r["start"].cast("string"),
            F.lit(',1"/>\n'),
            lines_xml(r),
            F.lit("      <TextEquiv><Unicode>"),
            _esc(r["text"]),
            F.lit("</Unicode></TextEquiv>\n    </TextRegion>"),
        )),
        "\n",
    )
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'
              f'<PcGts xmlns="{PAGE_NS}">\n'
              "  <Metadata>\n"
              f"    <Creator>{creator}</Creator>\n"
              "    <Created>2024-01-01T00:00:00Z</Created>\n"
              "    <LastChange>2024-01-01T00:00:00Z</LastChange>\n"
              "  </Metadata>\n"
              '  <Page imageFilename="'),
        _esc(F.col("url")),
        F.lit('" imageWidth="'), F.col("width"),
        F.lit('" imageHeight="1">\n'
              "    <ReadingOrder>\n"
              '      <OrderedGroup id="ro_1">\n'),
        refs,
        F.lit("\n      </OrderedGroup>\n    </ReadingOrder>\n"),
        regions_xml,
        F.lit("\n  </Page>\n</PcGts>\n"),
    )
    return regions.select("url", xml.alias("xml"))
