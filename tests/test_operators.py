"""Unit tests for the relational layout/order operators on synthetic
frames (rule-by-rule goldens, SURVEY.md §7)."""

import pyspark.sql.functions as F

from origami_spark.kernels.parse import BLOCKS_SCHEMA
from origami_spark.operators.layout import classify, drop_contained, merge_adjacent, refine


def mkblocks(spark, rows):
    """rows: list of dicts with block-row fields (defaults filled)."""
    defaults = dict(
        url="u", seq=0, path="TEXT/0", label="TEXT", tag="p", tag_path="body/p",
        depth=2, parent_id=1, start=0, end=10, text="t.", n_lines=1,
        text_len=2, link_len=0, in_chrome=False, ends_clean=True,
        ws_gap_next=True, gap_markup_only_next=True, strength=0.0,
        rehomed=False, cells_json=None, line_spans=None,
    )
    full = []
    for i, r in enumerate(rows):
        d = dict(defaults, seq=i, path=f"TEXT/{i}")
        d.update(r)
        full.append(tuple(d[c] for c in [f.split()[0] for f in BLOCKS_SCHEMA.split(", ")]))
    return spark.createDataFrame(full, BLOCKS_SCHEMA)


def test_classify_drops_chrome_linkfarm_empty(spark):
    df = mkblocks(spark, [
        {"text": "keep.", "text_len": 5},
        {"in_chrome": True},
        {"link_len": 8, "text_len": 10},          # 0.8 link density
        {"text_len": 0, "text": ""},
        {"label": "ILLUSTRATION", "text": "", "text_len": 0},
        {"label": "SEPARATOR", "text": "", "text_len": 0},  # barrier survives
        {"label": "TABULAR", "text": "+--+", "text_len": 4},
    ])
    got = {r["seq"] for r in classify(df).collect()}
    assert got == {0, 5, 6}


def test_merge_adjacent_fragments(spark):
    df = mkblocks(spark, [
        {"text": "first part", "ends_clean": False, "start": 0, "end": 10,
         "text_len": 10},
        {"text": "second part.", "start": 11, "end": 25, "text_len": 12},
        {"text": "standalone.", "start": 26, "end": 40, "text_len": 11},
    ])
    rows = {r["path"]: r for r in merge_adjacent(df).collect()}
    assert set(rows) == {"TEXT/0", "TEXT/2"}
    m = rows["TEXT/0"]
    assert m["text"] == "first part second part."
    assert (m["start"], m["end"]) == (0, 25)
    assert m["merged_from"] == ["TEXT/1"]
    assert m["text_len"] == 22


def test_separator_blocks_merge(spark):
    df = mkblocks(spark, [
        {"text": "first part", "ends_clean": False, "start": 0, "end": 10},
        {"label": "SEPARATOR", "tag": "hr", "text": "", "text_len": 0,
         "start": 11, "end": 15},
        {"text": "not merged.", "start": 16, "end": 30},
    ])
    got = merge_adjacent(df)
    assert got.count() == 2  # separator dropped, no merge across it
    assert got.filter("text = 'first part'").count() == 1


def test_merge_criteria_matrix(spark):
    """IsOnSameLine needs same parent + ws gap; IsBelow allows a parent
    change when the blocks are seq-adjacent with a markup-only gap; tag
    mismatch and intervening blocks always block the merge."""
    df = mkblocks(spark, [
        # cross-parent, seq-adjacent, markup-only gap -> IsBelow merges
        {"text": "continues", "ends_clean": False, "parent_id": 1,
         "ws_gap_next": False, "gap_markup_only_next": True},
        {"text": "across divs.", "parent_id": 2},
        # cross-parent with TEXT in the gap -> neither criterion
        {"text": "frag", "ends_clean": False, "parent_id": 3,
         "ws_gap_next": False, "gap_markup_only_next": False},
        {"text": "other parent.", "parent_id": 4},
        # tag mismatch -> no merge even when adjacent
        {"text": "frag2", "ends_clean": False, "tag": "h1"},
        {"text": "tag mismatch.", "tag": "p"},
        # seq gap (a dropped block sat between) -> IsBelow refuses
        {"text": "frag3", "ends_clean": False, "parent_id": 5,
         "ws_gap_next": False, "gap_markup_only_next": True, "seq": 10},
        {"text": "far away.", "parent_id": 6, "seq": 12},
    ])
    rows = {r["path"]: r["text"] for r in merge_adjacent(df).collect()}
    assert rows["TEXT/0"] == "continues across divs."
    assert "TEXT/1" not in rows
    assert set(rows) == {"TEXT/0", "TEXT/2", "TEXT/3", "TEXT/4",
                         "TEXT/5", "TEXT/6", "TEXT/7"}


def test_drop_contained(spark):
    df = mkblocks(spark, [
        {"start": 0, "end": 100},
        {"start": 10, "end": 50},    # contained -> dropped
        {"start": 60, "end": 120},   # overlaps but extends -> kept
        {"start": 200, "end": 300},
    ])
    kept = sorted(r["start"] for r in drop_contained(df).collect())
    assert kept == [0, 60, 200]


def test_exclusive_spans_partition(spark):
    """TextAreaFactory analog: survivors' [excl_start, end) ranges never
    overlap — a partially-overlapping hull is trimmed to the bytes no
    earlier block owns."""
    df = mkblocks(spark, [
        {"start": 0, "end": 100},
        {"start": 60, "end": 120},   # overlaps front 40 bytes -> trimmed
        {"start": 110, "end": 130},
        {"start": 200, "end": 300},  # disjoint -> untrimmed
    ])
    rows = sorted(
        (r["excl_start"], r["end"]) for r in drop_contained(df).collect()
    )
    assert rows == [(0, 100), (100, 120), (120, 130), (200, 300)]
    for (s1, e1), (s2, e2) in zip(rows, rows[1:]):
        assert e1 <= s2 or s2 >= e1  # pairwise disjoint


def test_refine_multiple_urls_independent(spark):
    df = mkblocks(spark, [
        {"url": "a", "text": "frag", "ends_clean": False, "start": 0, "end": 5},
        {"url": "a", "text": "ment.", "start": 6, "end": 12},
        {"url": "b", "text": "solo.", "start": 0, "end": 5},
    ])
    got = refine(df)
    assert got.filter("url = 'a'").count() == 1
    assert got.filter("url = 'b'").count() == 1


def test_separator_strength_from_parse():
    """Parse emits strength: <hr size=N> uses the attribute, bare <hr>
    is 1.0, a textual rule line scales with glyph run length."""
    from origami_spark.html.blocks import extract_page

    html = (b"<html><body><main><p>a</p><hr><p>b</p><hr size=3><p>c</p>"
            b"<p>one.<br>----------<br>two.</p></main></body></html>")
    seps = [b for b in extract_page(html) if b.label == "SEPARATOR"]
    assert [b.strength for b in seps] == [1.0, 3.0, 2.0]


