"""Block extraction: labels, stats, adjacency evidence."""

from origami_spark.html.blocks import extract_page


def by_label(blocks, label):
    return [b for b in blocks if b.label == label]


def test_labels_and_chrome():
    blocks = extract_page(
        b"<body><nav><a href='/'>x</a></nav><p>main.</p><hr>"
        b"<table><tr><td>a</td><td>b</td></tr></table>"
        b"<img src='i.jpg'><footer>f</footer></body>"
    )
    labels = [(b.label, b.in_chrome) for b in blocks]
    assert ("TEXT", True) in labels       # nav
    assert ("TEXT", False) in labels      # p
    assert ("SEPARATOR", False) in labels
    assert ("TABULAR", False) in labels
    assert ("ILLUSTRATION", False) in labels


def test_link_density_stats():
    (b,) = extract_page(b"<body><p><a href='/'>linked</a> plain</p></body>")
    assert b.text == "linked plain"
    assert b.link_len == len("linked")
    assert b.text_len == len("linked plain")


def test_ws_gap_and_ends_clean():
    data = b"<body><p>no punct</p> <p>ends.</p>x<p>third.</p></body>"
    blocks = extract_page(data)
    # stray 'x' directly in <body> -> body emits a hull-span block that
    # covers only the 'x' run, never the whole document
    body = [b for b in blocks if b.tag == "body"][0]
    assert data[body.start:body.end] == b"x"
    ps = [b for b in blocks if b.tag == "p"]
    assert ps[0].ws_gap_next is True
    assert ps[0].ends_clean is False
    assert ps[1].ends_clean is True
    assert ps[1].ws_gap_next is False  # 'x' block between them in seq


def test_list_is_one_multiline_block():
    (b,) = extract_page(b"<body><ul><li>one</li><li>two</li></ul></body>")
    assert b.text == "one\ntwo"
    assert b.n_lines == 2


def test_br_makes_lines():
    (b,) = extract_page(b"<body><p>a<br>b</p></body>")
    assert b.text == "a\nb"
    assert b.n_lines == 2


def test_paths_per_label():
    blocks = extract_page(b"<body><p>a.</p><hr><p>b.</p></body>")
    assert [b.path for b in blocks] == ["TEXT/0", "SEPARATOR/0", "TEXT/1"]


def test_byte_spans_slice_source():
    data = b"<body>\n  <p>hello.</p>\n</body>"
    (b,) = extract_page(data)
    assert data[b.start : b.end] == b"<p>hello.</p>"


def test_gutter_splits_glued_articles():
    """Density-valley split (SplitDetector analog): a run of >= 2 blank
    lines between two text runs inside one element splits it into two
    TEXT blocks with exact text-hull spans, and the gutter itself
    becomes a T separator spanning the raw gap."""
    data = (b"<body><div>Article one ends here."
            b"<br><br><br>Article two starts here.</div></body>")
    blocks = extract_page(data)
    assert [b.label for b in blocks] == ["TEXT", "SEPARATOR", "TEXT"]
    a, sep, b = blocks
    assert data[a.start:a.end] == b"Article one ends here."
    assert data[b.start:b.end] == b"Article two starts here."
    assert data[sep.start:sep.end] == b"<br><br><br>"
    assert sep.strength == 1.0
    # 6 blank lines -> stronger separator (capped at 4.0)
    deep = extract_page(
        b"<body><div>one." + b"<br>" * 7 + b"two.</div></body>")
    assert [x.label for x in deep] == ["TEXT", "SEPARATOR", "TEXT"]
    assert deep[1].strength == 3.0


def test_single_blank_line_never_splits():
    """One blank line (<br><br>) is an ordinary paragraph break: the
    element stays ONE block and the blank line is dropped as before."""
    (b,) = extract_page(b"<body><p>a.<br><br>b.</p></body>")
    assert b.text == "a.\nb."
    assert b.n_lines == 2


def test_border_gutters_never_split():
    """Leading/trailing blank runs produce no split and no separator
    (the reference's border exclusion + empty SplitFilter side)."""
    blocks = extract_page(
        b"<body><div><br><br><br>only text.<br><br><br></div></body>")
    assert [b.label for b in blocks] == ["TEXT"]
    assert blocks[0].text == "only text."


def test_gutter_separator_blocks_adjacency_merge():
    """The gutter separator is a merge barrier: two single-line halves
    of a <p> (prev not sentence-terminal, markup-only gap) would
    otherwise re-merge via the IsBelow criterion — the split must
    hold end-to-end."""
    from origami_spark.extract_local import extract_document

    r = extract_document(
        b"<body><p>first half no terminal<br><br><br>second half</p></body>")
    assert r["text"] == "first half no terminal\n\nsecond half\n"
    assert len(r["spans"]) == 2


def test_gutter_and_rule_lines_compose():
    """A rule line and a gutter in one element produce three blocks and
    two separators, in document order."""
    data = (b"<body><div>part a.<br>-----<br>part b."
            b"<br><br><br>part c.</div></body>")
    blocks = extract_page(data)
    assert [b.label for b in blocks] == [
        "TEXT", "SEPARATOR", "TEXT", "SEPARATOR", "TEXT"]
    assert [b.text for b in blocks if b.label == "TEXT"] == [
        "part a.", "part b.", "part c."]


def test_nul_only_run_is_text_not_a_break():
    """A text run that is exactly U+0000 is text like any run holding a
    NUL: it neither ends a line nor drops out of the link evidence."""
    (split,) = extract_page(b"<p>alpha<b>\x00</b>beta</p>")
    (whole,) = extract_page(b"<p>alpha\x00beta</p>")
    assert split.n_lines == whole.n_lines == 1
    assert split.text == whole.text == "alpha\x00beta"
    assert split.text_len == whole.text_len
    (split_a,) = extract_page(b"<p><a href='/'>alpha<b>\x00</b>beta</a></p>")
    (whole_a,) = extract_page(b"<p><a href='/'>alpha\x00beta</a></p>")
    assert split_a.text == whole_a.text == "alpha\x00beta"
    assert split_a.link_len == whole_a.link_len == whole_a.text_len
