"""Property-based hostile-input tests: the extractor must never raise,
spans must stay inside the document, and output must be deterministic —
over arbitrary byte soup and randomly-assembled tag soup.

No Spark needed: extract_document is the exact kernel all three
execution paths share, so its invariants are the engine's invariants.
"""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from origami_spark.extract_local import extract_document
from origami_spark.html.tokenizer import to_utf8

TAGS = ["p", "div", "span", "a", "li", "ul", "table", "tr", "td", "nav",
        "em", "br", "hr", "h1", "script", "style", "blockquote", "pre"]

words = st.text(
    alphabet=st.characters(codec="utf-8",
                           blacklist_characters="<>&"),
    min_size=0, max_size=12,
)


@st.composite
def tag_soup(draw):
    """Random, deliberately unbalanced HTML fragments."""
    n = draw(st.integers(0, 40))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(0, 5))
        tag = draw(st.sampled_from(TAGS))
        if kind == 0:
            parts.append(f"<{tag}>")
        elif kind == 1:
            parts.append(f"</{tag}>")
        elif kind == 2:
            parts.append(draw(words))
        elif kind == 3:
            parts.append(f"<{tag} class='x' href=/{draw(words)}>")
        elif kind == 4:
            parts.append("<!-- c -->")
        else:
            parts.append("&amp; &#65; &bogus;")
    return "".join(parts).encode("utf-8", "replace")


def _check_invariants(data: bytes):
    r = extract_document(data)
    # Span offsets index the decoded (utf-8) document, which is the raw
    # bytes themselves unless a BOM or <meta charset> forces a transcode.
    doc = to_utf8(data)
    n = len(doc)
    for s in r["spans"]:
        assert 0 <= s["start"] <= s["end"] <= n, (s, n)
    # spans in reading order are sorted by start
    starts = [s["start"] for s in r["spans"]]
    assert starts == sorted(starts)
    # composition contract: trailing newline iff non-empty
    assert r["text"] == "" or r["text"].endswith("\n")
    # deterministic
    r2 = extract_document(data)
    assert r2["text"] == r["text"] and r2["spans"] == r["spans"]


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
# utf-16 BOM: the transcoded document is longer than the raw bytes
@example(b"\xfe\xff\x01\x00\x08\x00\x00")
def test_arbitrary_bytes_never_crash(data):
    _check_invariants(data)


@settings(max_examples=300, deadline=None)
@given(tag_soup())
def test_tag_soup_never_crashes(data):
    _check_invariants(data)


@settings(max_examples=100, deadline=None)
@given(tag_soup(), tag_soup())
def test_concatenation_stays_in_bounds(a, b):
    _check_invariants(a + b"<hr>" + b)


@given(st.binary(max_size=300), st.sampled_from(
    [b"gb2312", b"shift-jis", b"windows-1251", b"utf-16", b"bogus-enc"]))
def test_mislabeled_charset_never_crashes(data, label):
    """A <meta charset> that lies about the body bytes must never raise
    and spans must stay in-bounds of the decoded document."""
    html = b'<html><head><meta charset="' + label + b'"></head><body>' + data
    r = extract_document(html)
    for s in r["spans"]:
        assert 0 <= s["start"] <= s["end"]
