"""Table structure stage: cell decomposition + structure maps.

Reference analog: ``subdivide_table_blocks`` splits TABULAR regions into
divisions/rows/columns with the id scheme ``block.division.row.column``
(``batch/detect/layout.py:1245-1316``), persisted as ``tables.json``
``{columns: {path: [x...]}, dividers: {path: [y...]}}``
(``docs/formats.md:308-335``); compose later explodes table lines per
column (``LineRewriter._column_path``, ``batch/core/lines.py:51-82``).

Web re-expression: the parse kernel already carries normalized cell text
per TABULAR block (cells_json); this stage is pure relational explode —
`from_json` + two `posexplode`s — emitting one row per cell with the
origami-style path ``TABULAR/<i>.<division>.<row>.<col>`` (division is
always 1: HTML tables carry explicit row structure, so the divider
*inference* origami needs for raster input is replaced by ground truth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CELLS_SCHEMA = "struct<rows: array<array<string>>, has_header: boolean>"


def table_cells(blocks: DataFrame) -> DataFrame:
    """TABULAR blocks -> (url, table_path, cell_path, division, row, col,
    text, is_header)."""
    t = blocks.filter(
        (F.col("label") == "TABULAR") & F.col("cells_json").isNotNull()
    ).select(
        "url",
        F.col("path").alias("table_path"),
        F.from_json("cells_json", CELLS_SCHEMA).alias("cells"),
    )
    rows = t.select(
        "url",
        "table_path",
        F.col("cells.has_header").alias("has_header"),
        F.posexplode("cells.rows").alias("row0", "row_cells"),
    )
    cells = rows.select(
        "url",
        "table_path",
        "has_header",
        (F.col("row0") + 1).alias("row"),
        F.posexplode("row_cells").alias("col0", "text"),
    )
    return cells.select(
        "url",
        "table_path",
        F.lit(1).alias("division"),
        "row",
        (F.col("col0") + 1).alias("col"),
        F.concat_ws(
            ".",
            "table_path",
            F.lit("1"),
            F.col("row").cast("string"),
            (F.col("col0") + 1).cast("string"),
        ).alias("cell_path"),
        "text",
        (F.col("has_header") & (F.col("row") == 1)).alias("is_header"),
    )
