"""Char-granularity offset map (the dewarp Grid/Transformer analog,
reference core/dewarp.py:496-576): per normalized char, the raw byte
offset it originates from — opt-in via extract_page(char_maps=True).

The exactness contract has two halves:

* the map-producing normalization equals normalize_text bit-for-bit
  (same charref segmentation, same whitespace collapse) — fuzzed;
* projecting a normalized-text span through the map yields a raw byte
  range that re-extracts to the same text, char-exact on the entity/
  whitespace fixtures.
"""

import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from origami_spark.extract_local import extract_document
from origami_spark.html.blocks import _normalize_with_map, extract_page
from origami_spark.html.tokenizer import normalize_text

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures")


def _maps_of(html: bytes):
    """[(line_text, line_span, char_map)] over all mapped blocks."""
    out = []
    for b in extract_page(html, char_maps=True):
        if b.label != "TEXT" or not b.char_maps:
            continue
        for line, sp, cm in zip(b.text.split("\n"), b.line_spans, b.char_maps):
            out.append((line, sp, cm))
    return out


def test_map_structure_and_monotonicity():
    html = (b"<html><body><p>x&nbsp;y AT&amp;T  caf&eacute; "
            b"&#8212;dash&#8212; na&#239;ve</p></body></html>")
    rows = _maps_of(html)
    assert rows
    for line, (s, e, _l), cm in rows:
        assert len(cm) == len(line)
        known = [o for o in cm if o >= 0]
        assert known == sorted(known)          # forward map is monotone
        assert all(s <= o < e for o in known)  # inside the line hull


def test_char_roundtrip_on_entity_whitespace_fixtures():
    """Char-exact roundtrip: for every normalized char with a known
    source, re-extracting the raw bytes at its mapped offset and
    normalizing reproduces that char (entities included: the mapped
    offset points at the '&' of the source entity)."""
    for case in ("unicode-entities", "plain-article", "gutter-split",
                 "rule-split", "continuation-divs"):
        with open(os.path.join(FIXTURES, case, "page.html"), "rb") as f:
            html = f.read()
        rows = _maps_of(html)
        assert rows, case
        for line, _sp, cm in rows:
            for i, (ch, off) in enumerate(zip(line, cm)):
                if off < 0:
                    continue
                nxt = next((o for o in cm[i + 1:] if o > off), off + 48)
                piece = normalize_text(html[off:nxt].decode("utf-8", "replace"))
                assert piece[:1] in (ch, ""), (case, line, i, ch, piece)
                if ch != " ":
                    assert piece[:1] == ch, (case, line, i, ch, piece)


def test_span_surgery_projection():
    """The consumer story: take a normalized-text span (as
    remove_duplicate_spans would emit), project it through the map,
    and check the raw slice normalizes back to the span's text."""
    html = (b"<html><body><p>alpha beta&nbsp;gamma AT&amp;T delta "
            b"epsilon zeta</p></body></html>")
    (line, _sp, cm), = _maps_of(html)
    for i in range(len(line)):
        for j in range(i + 1, min(i + 20, len(line)) + 1):
            if cm[i] < 0 or line[i] == " " or (j < len(line) and cm[j] < 0):
                continue
            raw_s = cm[i]
            raw_e = cm[j] if j < len(line) else _sp[1]
            got = normalize_text(html[raw_s:raw_e].decode("utf-8", "replace"))
            assert got == line[i:j].strip(), (i, j, got, line[i:j])


_ENTITY_SOUP = st.text(
    alphabet=st.sampled_from(list("ab &;#xX01779nbampqutol<>\t\n")),
    min_size=0, max_size=60)


@given(_ENTITY_SOUP)
@settings(max_examples=300, deadline=None)
def test_map_normalization_equals_normalize_text(raw):
    """The mapped normalization IS normalize_text — on arbitrary entity
    soup, including truncated/bogus references and whitespace runs."""
    data = raw.encode("utf-8")
    norm, offs = _normalize_with_map([(raw, (0, len(data)))], data)
    assert norm == normalize_text(raw)
    assert len(offs) == len(norm)


@given(st.lists(st.tuples(_ENTITY_SOUP, st.booleans()), max_size=6))
@settings(max_examples=150, deadline=None)
def test_map_normalization_multi_piece(pieces):
    """Multi-piece lines (inline elements): same equality, with spans
    assigned consecutively and span-less pieces interleaved."""
    built, pos, data = [], 0, b""
    for text, has_span in pieces:
        b = text.encode("utf-8")
        built.append((text, (pos, pos + len(b)) if has_span else None))
        pos += len(b)
        data += b
    raw = "".join(t for t, _ in built)
    norm, offs = _normalize_with_map(built, data)
    assert norm == normalize_text(raw)
    assert len(offs) == len(norm)


def test_invalid_utf8_offsets_stay_byte_exact():
    """A replacement char (3 bytes re-encoded) standing in for a 1-byte
    invalid sequence must not shift every later offset (+2 drift bug,
    round-4 review finding): offsets are derived from the raw BYTES, so
    each mapped char's offset points at its own source byte."""
    h = b"<html><body><p>ab\x80cd efgh</p></body></html>"
    (b,) = [x for x in extract_page(h, char_maps=True) if x.label == "TEXT"]
    line, cm, (s, e, _l) = b.text, b.char_maps[0], b.line_spans[0]
    assert len(cm) == len(line)
    assert all(s <= o < e for o in cm)
    for ch in "abcdefgh":
        assert h[cm[line.index(ch)]:cm[line.index(ch)] + 1] == ch.encode()
    # the replacement char maps to the offending byte itself
    assert h[cm[line.index("�")]] == 0x80


@given(st.binary(max_size=48))
@settings(max_examples=300, deadline=None)
def test_invalid_bytes_fuzz_offsets_in_bounds(data):
    """Arbitrary byte soup through the replace-decode path: the mapped
    text equals normalize_text of the replace-decoded slice and every
    known offset is monotone non-decreasing and in-bounds."""
    text = data.decode("utf-8", "replace")
    norm, offs = _normalize_with_map([(text, (0, len(data)))], data)
    assert norm == normalize_text(text)
    assert len(offs) == len(norm)
    known = [o for o in offs if o >= 0]
    assert known == sorted(known)
    assert all(0 <= o < max(len(data), 1) for o in known)


def test_goldens_unaffected_by_flag():
    """char_maps is observability only: block text/spans are identical
    with and without it, on generator pages."""
    from origami_spark.sources.corpus import generate_pages

    for p in generate_pages(42, 40):
        plain = extract_page(p["html"])
        mapped = extract_page(p["html"], char_maps=True)
        assert [(b.label, b.text, b.start, b.end) for b in plain] == \
            [(b.label, b.text, b.start, b.end) for b in mapped]
        r = extract_document(p["html"])
        assert r["text"] == p["text"]
        assert r["spans"] == json.loads(p["spans_json"])

