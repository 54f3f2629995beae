"""Whole-table pin of the extraction kernel.

The goldens check only composed text and spans; the relational chain,
the lines/tables stages and ``debug.py`` read every other ``Block``
field.  These digests hash every field of every ``extract_page`` block
(the ``BLOCKS_SCHEMA`` columns plus ``node_id``, ``cells``,
``has_header`` and the raw ``line_spans``), ``char_maps`` on a subset,
and every ``extract_document`` output, over the seeded corpus, the
hostile inputs and tag-soup shapes that reach each branch of
``build_tree``.  A kernel rewrite must leave them unchanged.
"""

import hashlib
import json
import os
import random

from origami_spark.extract_local import extract_document
from origami_spark.html.blocks import extract_page
from origami_spark.sources.corpus import generate_pages

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures")

BLOCK_FIELDS = (
    "seq", "path", "label", "tag", "tag_path", "depth", "node_id",
    "parent_id", "start", "end", "text", "n_lines", "text_len",
    "link_len", "in_chrome", "ends_clean", "ws_gap_next",
    "gap_markup_only_next", "strength", "rehomed", "cells", "has_header",
    "line_spans",
)

# every branch of build_tree: stray '<', unclosed raw-text elements,
# XHTML '/>' on void and non-void tags, implicit li/td/th/tr/p/dd/dt/
# option closes, a block start inside an open <p> (directly and through
# open inline elements), close tags that match nothing or pop through
# unclosed children, '<?...>', '<!...>' and unterminated comments
TAG_SOUP = [
    b"a < b and c<d <3 <p>x < y</p> <",
    b"<p>before<script>var s = '<p>not text</p>';",
    b"<p>before<style>p { color: red }",
    b"<p>x<script>a</script >y<style>b</STYLE>z</p>",
    b"<div/>text<br/>more<img src='a'/><span/>tail<p/>p-text",
    b"<script/>after.<p>x</p>",
    b"<ul><li>one<li>two<li>three</ul><ol><li>a<li><p>b<li>c</ol>",
    b"<table><tr><td>a<td>b<th>c<tr><td>d</table>",
    b"<dl><dt>t<dd>d<dt>t2<dd>d2</dl><select><option>a<option>b</select>",
    b"<p>one<p>two<p>three</p>",
    b"<p>a <b>bold <i>it<div>block in p</div> tail</i></b>",
    b"<p>a<span>b<ul><li>c</ul>d</span></p>",
    b"<div><p>a</span></div></p>x</b>y",
    b"<div><span><em>x</div>after</em>",
    b"<?xml version='1.0'?><p>a</p><?php echo 1 ?>b<? c > d",
    b"<!DOCTYPE html><!-- c --><p>a<!-- <p>x</p> --></p><!x>y<!-- open",
    b"<!-->a<p>b</p>",
    b"<P CLASS=x>Upper</P><DiV>mixed</dIv><h1-x>custom</h1-x>",
    b"<a href='x>y' title=\"q>r\">link</a><p a='1'b=2 c>t</p>",
    b"<section><article><p>deep</p><p>er</p></article></section>"
    b"<main>m<aside>s</aside></main>",
    b"<body>bare<p>x</p>more bare<br><br><br>after gutter</body>",
    b"root text<div>d</div>root again",
    b"<p>a<br><br><br>b</p><p>-----</p><p>x<br>=====<br>y</p>",
    b"<hr size=3><hr size='x'><hr size=99><hr size=\xc2\xb3>",
    b"<nav><p>" + b"content words here " * 10 + b"<br><a>l</a></p></nav>",
    b"<form><p>f</p></form><footer>" + b"long footer text. " * 8
    + b"</footer>",
    b"<picture><img></picture><figure>cap</figure><video></video>",
    b"<noscript><p>n</p></noscript><template><p>t</p></template>"
    b"<svg><p>s</p></svg><iframe>i</iframe><object>o</object>",
    b"<head><title>t</title></head><p>x &amp; &#65; &bogus; &nbsp;y</p>",
    b"<p>\xff\xfe bad \xc3 utf8 \xe2\x82</p><p>\xe2\x82\xac ok</p>",
    b"<table><caption>c</caption><thead><tr><th>h<th>i</thead>"
    b"<tbody><tr><td>1<td>2</tbody><tfoot><tr><td>f</tfoot></table>",
    b"<table><tr><td><table><tr><td>inner</table></table>",
    b"<p>" + b"<b>" * 60 + b"x" + b"</b>" * 60 + b"</p>",
]

# tests/test_local_golden.py::test_hostile_inputs_never_raise and the
# pinned examples of tests/test_hostile_html.py
HOSTILE = [
    b"",
    bytes(range(256)),
    b"<p>a <em>b<p>c",
    b"<div>" * 300 + b"x" + b"</div>" * 300,
    b"<script>'<p>x</p>'</script>",
    "<p>héllo — wörld.</p>".encode(),
    b"<table><tr><td>a<td>b</table>",
    b"< not a tag < p >",
    b"\xfe\xff\x01\x00\x08\x00\x00",
    b"\xef\xbb\xbf<p>bom</p>",
]
for label in (b"gb2312", b"shift-jis", b"windows-1251", b"utf-16",
              b"bogus-enc"):
    HOSTILE.append(b'<html><head><meta charset="' + label
                   + b'"></head><body>' + bytes(range(128, 200)))

# the shapes tests/test_hostile_html.py draws, from a fixed seed
_SOUP_TAGS = ["p", "div", "span", "a", "li", "ul", "table", "tr", "td",
              "nav", "em", "br", "hr", "h1", "script", "style",
              "blockquote", "pre"]
_SOUP_CHARS = "abc xyz.\t\né中;&#"


def _soup(rng: random.Random) -> bytes:
    parts = []
    for _ in range(rng.randint(0, 40)):
        kind = rng.randint(0, 5)
        tag = rng.choice(_SOUP_TAGS)
        word = "".join(rng.choice(_SOUP_CHARS)
                       for _ in range(rng.randint(0, 12)))
        parts.append((f"<{tag}>", f"</{tag}>", word,
                      f"<{tag} class='x' href=/{word}>", "<!-- c -->",
                      "&amp; &#65; &bogus;")[kind])
    return "".join(parts).encode()


def _inputs():
    docs = [p["html"] for p in generate_pages(42, 1500)]
    docs += [p["html"] for p in generate_pages(7, 200)]
    for case in sorted(os.listdir(FIXTURES)):
        with open(os.path.join(FIXTURES, case, "page.html"), "rb") as f:
            docs.append(f.read())
    rng = random.Random(13)
    docs += TAG_SOUP + HOSTILE
    docs += [_soup(rng) for _ in range(300)]
    docs += [bytes(rng.randrange(256) for _ in range(rng.randint(0, 400)))
             for _ in range(100)]
    return docs


def _block_rows(blocks, char_maps=False):
    fields = BLOCK_FIELDS + (("char_maps",) if char_maps else ())
    return [[getattr(b, f) for f in fields] for b in blocks]


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, ensure_ascii=False, sort_keys=True).encode())
        h.update(b"\n")
    return h.hexdigest()


def test_extract_page_block_table_is_pinned():
    assert _digest(_block_rows(extract_page(d)) for d in _inputs()) == (
        "49fa4bc4749992074a352a3709b9dee2f0813efa56c20972cc22717a24c3943b")


def test_extract_page_char_maps_are_pinned():
    docs = _inputs()
    docs = docs[:150] + docs[1700:]
    assert _digest(_block_rows(extract_page(d, char_maps=True), True)
                   for d in docs) == (
        "5895a095768086760d72f3bc21f8310fcbf044a5935ffecbecb0d3d883288c36")


def test_extract_document_output_is_pinned():
    assert _digest(extract_document(d) for d in _inputs()) == (
        "206db51ddb317c92d266f3540d77a080ce272b10fbc0199aba102c93ff27cd9d")


def test_trace_seams_called_once_per_document(monkeypatch):
    """perfbench's per-layer split patches ``blocks.build_tree`` and
    ``extract_local.extract_page`` by name; a kernel that inlined either
    would silently zero ``html.tokenizer.us_per_doc`` or fold it into
    ``html.blocks.self_us_per_doc``."""
    from origami_spark import extract_local
    from origami_spark.html import blocks

    calls = {"build_tree": 0, "extract_page": 0}

    def counting(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(blocks, "build_tree",
                        counting("build_tree", blocks.build_tree))
    monkeypatch.setattr(extract_local, "extract_page",
                        counting("extract_page", extract_local.extract_page))
    docs = [p["html"] for p in generate_pages(42, 20)] + TAG_SOUP + HOSTILE
    for d in docs:
        extract_local.extract_document(d)
    assert calls == {"build_tree": len(docs), "extract_page": len(docs)}
