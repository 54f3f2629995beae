"""S4 features + table-structure stages."""

from origami_spark.operators.features import block_features
from origami_spark.operators.tables import table_cells
from origami_spark.pipeline import parse_stage
from origami_spark.sources.corpus import pages_df


def test_block_features(spark):
    pages = pages_df(spark, 60, num_partitions=4).cache()
    blocks = parse_stage(pages)
    feats = block_features(blocks)
    rows = feats.filter("label = 'TEXT' and text_len > 0").collect()
    assert rows
    for r in rows[:50]:
        assert 0 < r["text_density"] <= 1.0 + 1e-9  # normalized chars <= raw bytes
        assert 0 <= r["link_density"] <= 1.0
        assert r["median_line_len"] is not None


def test_separator_and_border_features(spark):
    """dist_prev/next_sep + header/footer-relative offsets (the
    add_separator_skew / BorderEstimator analogs) computed from a page
    whose geometry is known by construction."""
    html = (b"<body><nav><a href='/x'>chrome</a></nav>"
            b"<main><p>first paragraph of content.</p>"
            b"<hr>"
            b"<p>second paragraph after the rule.</p></main>"
            b"<footer>c</footer></body>")
    pages = spark.createDataFrame(
        [("u1", bytearray(html))], "url string, html binary")
    feats = {r["path"]: r
             for r in block_features(parse_stage(pages, partitions=1)).collect()}
    p1, sep, p2 = feats["TEXT/1"], feats["SEPARATOR/0"], feats["TEXT/2"]
    # separator distances measured in raw bytes, exact by construction
    assert p1["dist_prev_sep"] is None          # no separator before
    assert p1["dist_next_sep"] == sep["start"] - p1["end"]
    assert p2["dist_prev_sep"] == p2["start"] - sep["end"]
    assert p2["dist_next_sep"] is None
    # border cuts: first/last non-chrome content positions
    assert p1["rel_to_header"] == 0             # p1 IS the header cut
    assert p2["rel_to_footer"] == 0             # p2 IS the footer cut
    assert p1["rel_to_footer"] == p2["end"] - p1["end"]
    assert p2["rel_to_header"] == p2["start"] - p1["start"]


def test_table_cells_roundtrip(spark):
    html = (b"<body><table>"
            b"<tr><th>h1</th><th>h2</th></tr>"
            b"<tr><td>a</td><td>b</td></tr>"
            b"<tr><td>c</td><td>d</td></tr>"
            b"</table></body>")
    pages = spark.createDataFrame(
        [("u1", bytearray(html))], "url string, html binary")
    blocks = parse_stage(pages, partitions=1)
    cells = table_cells(blocks).orderBy("row", "col").collect()
    assert [(c["row"], c["col"], c["text"], c["is_header"]) for c in cells] == [
        (1, 1, "h1", True), (1, 2, "h2", True),
        (2, 1, "a", False), (2, 2, "b", False),
        (3, 1, "c", False), (3, 2, "d", False),
    ]
    assert cells[0]["cell_path"] == "TABULAR/0.1.1.1"


def test_corpus_tables_explode(spark):
    pages = pages_df(spark, 120, num_partitions=4)
    blocks = parse_stage(pages)
    n_tables = blocks.filter("label = 'TABULAR'").count()
    cells = table_cells(blocks)
    assert cells.select("url", "table_path").distinct().count() == n_tables
    assert cells.filter("row < 1 or col < 1").count() == 0
