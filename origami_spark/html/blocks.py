"""DOM tree -> text blocks / separators (the contours-stage analog).

Walks the node table from ``tokenizer.build_tree`` and emits *leaf text
blocks*: block-level elements whose inline content (direct text + inline
descendants, stopping at nested block elements) is non-empty.  Tables
become one TABULAR block rendered psql-style; ``<ul>/<ol>`` become one
multi-line TEXT block (one line per ``<li>``); ``<hr>`` becomes an H
separator; media elements become ILLUSTRATION.

Reference analog: ``core/contours.py`` raster->polygon extraction plus the
label taxonomy of ``core/predict.py:123-146`` (REGION labels TEXT/TABULAR/
ILLUSTRATION; SEPARATOR labels H/V/T).  Chrome detection (nav/header/
footer/aside ancestry) is recorded here but *classified out* in the Spark
layout stage — mirroring how origami's ``HeuristicFrameDetector``
(``core/contours.py:354-426``) removes margin noise as a separate rule.
"""

from __future__ import annotations

import html as _htmllib
import re
from dataclasses import dataclass
from operator import attrgetter

from .render import render_table
from .tokenizer import (
    BLOCK_TAGS,
    DROP_TAGS,
    _WS_COLLAPSE_RE,
    Node,
    build_tree,
    normalize_text,
    to_utf8,
)

CHROME_TAGS = frozenset("nav header footer aside form button".split())

# reclassification thresholds, shared by the block-level chrome rescue
# (operators/layout.classify + extract_local.survives) and the
# line-level re-homing below: content evidence is decisive when the
# unit is long and >= 80% non-link characters (the reference re-homes
# when the predicted label beats the assigned one by a margin,
# batch/detect/lines.py:108-127)
RESCUE_MIN_CHARS = 80
RESCUE_MAX_LINK_SHARE = 0.2
# the block-level link-density drop (operators/layout.classify +
# extract_local.survives): a block more than half link text is chrome
LINK_DENSITY_MAX = 0.5
MEDIA_TAGS = frozenset("img picture figure video audio canvas".split())
LIST_TAGS = frozenset(("ul", "ol", "menu", "dir"))
TABLE_TAG = "table"
_TERMINAL = tuple(".!?:;…。！？")

# a line that is only separator glyphs acts as an explicit T separator
# (textual rule), like <hr> — SplitDetector analog
_RULE_RE = re.compile(r"[-=*_~#]{3,}")

# density-valley split threshold (SplitDetector proper, reference
# batch/detect/layout.py:915-1001): the reference splits an over-merged
# region at a whitespace valley found by signal processing (periodogram
# -> smoothed ink density -> find_peaks with a width threshold of ~2
# line heights).  The web analog of a whitespace valley inside ONE
# block element is a run of consecutive BLANK lines (<br><br><br>...)
# between two text runs; the reference's "valley at least ~2 line
# heights wide" becomes "at least 2 blank lines".  A 1-blank-line gap
# (<br><br>) is an ordinary paragraph break and never splits.
SPLIT_MIN_BLANK_LINES = 2


@dataclass(slots=True)
class Block:
    # built positionally in the kernel: keep the field order
    seq: int           # document-order index among emitted blocks
    node_id: int
    parent_id: int
    label: str         # TEXT | TABULAR | ILLUSTRATION | SEPARATOR
    tag: str
    tag_path: str
    depth: int
    start: int         # raw byte span of the source element
    end: int
    text: str          # normalized text, lines joined with '\n'
    n_lines: int
    text_len: int
    link_len: int
    in_chrome: bool
    ends_clean: bool = False
    ws_gap_next: bool = False  # only whitespace between this and next block
    # only whitespace/tags/comments (no text) between this and the next
    # emitted block — the 1-D "vertically adjacent within line height"
    # evidence of the IsBelow merge criterion (reference layout.py:411-440)
    gap_markup_only_next: bool = False
    path: str = ""
    cells: list | None = None   # TABULAR only: rows of normalized cell text
    has_header: bool = False
    # per line: (raw_start, raw_end, link_len) — byte hull + normalized
    # link-char count (ConfidenceSampler evidence, see operators/lines.py)
    line_spans: list | None = None
    # opt-in (extract_page(char_maps=True)): per line, the per-char
    # forward map normalized-pos -> raw byte offset (the dewarp
    # Grid/Transformer analog at char granularity, core/dewarp.py:496-576)
    char_maps: list | None = None
    # True for a line re-emitted out of chrome by the line-level
    # re-homing below — the "regionless free line" the reference's
    # RegionReadingOrder groups into MergedTextRegions at export time
    # (batch/detect/compose.py:481-562; see operators/export_xml.py)
    rehomed: bool = False
    # SEPARATOR only: estimated visual weight (the reference persists a
    # per-separator width estimate, batch/detect/contours.py:126-134,
    # and ordering boosts thick separators, order.py:96-106).  <hr> uses
    # its legacy size attribute when numeric; a textual rule line scales
    # with its glyph run length.  1.0 = the default separator.
    strength: float = 0.0


# walker dispatch by tag; a tag not listed is inline (figure is media
# before it is a block)
_DROP, _MEDIA, _HR, _TABLE, _LIST, _BLOCK = range(6)
_KIND = {t: _BLOCK for t in BLOCK_TAGS}
_KIND.update(dict.fromkeys(LIST_TAGS, _LIST))
_KIND.update({TABLE_TAG: _TABLE, "hr": _HR})
_KIND.update(dict.fromkeys(MEDIA_TAGS, _MEDIA))
_KIND.update(dict.fromkeys(DROP_TAGS, _DROP))

# inline gathering by tag: dropped, block (not descended into), line
# break; a tag not listed is inline and descended into
_SKIP, _NESTED, _BREAK = range(3)
_GATHER = dict.fromkeys(BLOCK_TAGS, _NESTED)
_GATHER.update(dict.fromkeys(DROP_TAGS, _SKIP))
_GATHER["br"] = _BREAK

_BLANK = ("", None, None, 0, None)  # keep_blanks placeholder line
_RULE_FIRST = frozenset("-=*_~#")
_DOC_ORDER = attrgetter("start", "node_id")


def _nests(node: Node) -> bool:
    """True when an inline element holds a block element or an element
    with children of its own — the only inline elements the walker
    descends into (it may hide tag-soup blocks or media)."""
    for c in node.content:
        if type(c) is not tuple:
            if c.tag in BLOCK_TAGS:
                return True
            for x in c.content:
                if type(x) is not tuple:
                    return True
    return False


# the WHATWG character-reference shape the stdlib's html.unescape
# matches (html/__init__.py); segmenting with the SAME regex and
# decoding each token with the PUBLIC html.unescape reproduces the
# whole-string unescape byte-for-byte (asserted by fixture + fuzz
# tests), while giving every decoded char a source offset
_CHARREF_RE = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[^\t\n\f <&#;]{1,32};?)")


def _char_offsets_replace(raw_bytes: bytes, base: int) -> list:
    """Byte offset (plus ``base``) of each char of
    ``raw_bytes.decode('utf-8', 'replace')``, derived from the bytes
    themselves with an incremental decoder.  Needed because re-encoding
    the decoded text lies about byte positions once a U+FFFD (3 bytes
    re-encoded) stands in for a 1- or 2-byte invalid sequence — every
    offset after the bad byte would drift.  When feeding byte ``i``
    emits chars, the last emitted char maps to ``i`` if something was
    already pending (a replacement flushed by this byte), otherwise to
    the first pending byte; earlier chars map to the pending start."""
    import codecs

    dec = codecs.getincrementaldecoder("utf-8")("replace")
    offs, start = [], 0
    for i in range(len(raw_bytes)):
        out = dec.decode(raw_bytes[i:i + 1])
        # the decoder may RETAIN byte i (and neighbours) as the start of
        # a new pending sequence even while emitting (e.g. b"\xc2\xc2":
        # the second byte flushes U+FFFD for the first and stays
        # buffered) — getstate tells how many bytes are still pending
        buffered = len(dec.getstate()[0])
        if out:
            offs.extend([base + start] * (len(out) - 1))
            offs.append(base + (start if len(out) == 1 else i - buffered))
            start = i + 1 - buffered
    tail = dec.decode(b"", True)
    if tail:
        offs.extend([base + start] * len(tail))
    return offs


def _normalize_with_map(pieces, data: bytes):
    """One line's (text, raw_span) pieces -> (normalized_text, offsets)
    where offsets[i] is the raw BYTE offset the normalized char i
    originates from (-1 when the source piece carries no span);
    ``data`` is the raw document the spans index into.

    The char-granularity forward map of the reference's dewarp
    ``Grid``/``Transformer`` (``core/dewarp.py:496-576``): origami maps
    dewarped pixel coordinates back into the warped page; here a char
    of *normalized* text maps back into the raw html bytes, so span
    surgery on normalized text (e.g. ``remove_duplicate_spans`` output)
    can be projected into the source document.  A multi-char expansion
    (one entity -> several chars) maps every char to the entity's
    ``&``; a collapsed whitespace run maps to its first source char.
    Exactness contract: the returned text equals
    ``normalize_text("".join(texts))`` bit-for-bit (fixture + fuzz
    tested — both sides run the same charref segmentation and the same
    ``\\s+`` collapse + strip)."""
    raw_chars: list = []            # (char, byte_off)
    for text, span in pieces:
        if span is None:
            raw_chars.extend((c, -1) for c in text)
            continue
        rb = data[span[0]:span[1]]
        try:
            # valid utf-8: re-encoding each decoded char walks the
            # source bytes exactly
            rb.decode("utf-8")
            off = span[0]
            for c in text:
                raw_chars.append((c, off))
                off += len(c.encode("utf-8"))
        except UnicodeDecodeError:
            # replace-decoded slice: offsets must come from the BYTES
            offs = _char_offsets_replace(rb, span[0])
            if len(offs) != len(text):   # contract breach — fail loudly
                raise ValueError(
                    f"char-map offset count diverged: {len(offs)} != "
                    f"{len(text)} for span {span}")
            raw_chars.extend(zip(text, offs))
    raw = "".join(c for c, _ in raw_chars)
    dec: list = []
    pos = 0
    for m in _CHARREF_RE.finditer(raw):
        dec.extend(raw_chars[pos:m.start()])
        rep = _htmllib.unescape(m.group(0))
        if rep == m.group(0):       # not a real entity: chars keep 1:1
            dec.extend(raw_chars[m.start():m.end()])
        else:
            src = raw_chars[m.start()][1]
            dec.extend((c, src) for c in rep)
        pos = m.end()
    dec.extend(raw_chars[pos:])
    out: list = []
    i, n = 0, len(dec)
    while i < n:
        if _WS_COLLAPSE_RE.match(dec[i][0]):
            j = i
            while j < n and _WS_COLLAPSE_RE.match(dec[j][0]):
                j += 1
            if out and j < n:       # interior run -> one space;
                out.append((" ", dec[i][1]))
            i = j                   # leading/trailing runs strip away
        else:
            out.append(dec[i])
            i += 1
    return "".join(c for c, _ in out), [o for _, o in out]


def _line(raws: list, hs, he, links: list, pieces, data: bytes):
    """One line's raw text runs -> (normalized_line, hull_s, hull_e,
    link_len, char_map), or None for a blank line.  Hull = raw span of
    the line's first and last non-whitespace run (runs arrive in
    document order); link_len = normalized char count of the line's <a>
    content (per-line confidence evidence, same normalization as the
    block-level link_len).  ``pieces`` — the line's (text, span-or-None)
    runs — asks for the per-char raw-offset array of
    :func:`_normalize_with_map` (None: the default path never pays for
    the map)."""
    if hs is None:  # whitespace-only runs normalize to ""
        return None
    norm = normalize_text("".join(raws))
    if not norm:
        return None
    llen = min(len(normalize_text(" ".join(links))), len(norm)) if links else 0
    cmap = None
    if pieces is not None:
        norm2, cmap = _normalize_with_map(pieces, data)
        if norm2 != norm:   # contract breach — fail loudly
            raise ValueError(
                f"char-map normalization diverged: {norm2!r} != {norm!r}")
    return (norm, hs, he, llen, cmap)


def _inline_text(data: bytes, doc, node: Node, keep_blanks: bool = False,
                 char_maps: bool = False):
    """Inline content of `node` -> (lines, text_len, link_len,
    skipped_block), lines being (normalized_text, hull_start, hull_end,
    link_len, char_map) with empty lines dropped.

    Collects the direct text runs and those of inline descendants in
    document order, stopping at nested block elements
    (``skipped_block``: container evidence) and skipping dropped
    subtrees; ``<br>`` ends a line.  Every line keeps an exact raw byte
    hull into the source document — the forward/inverse offset map of
    origami's dewarp grid (``core/dewarp.py:496-576``), at the
    granularity compose and the lines stage consume.  Text inside <a>
    feeds the link evidence (line confidence, the ``ConfidenceSampler``
    analog — reference ``batch/detect/lines.py:25-54`` samples
    segmentation labels under each line; the label evidence under a web
    line is which characters sit inside <a>).

    ``doc`` is ``data`` decoded when the page is ASCII (runs slice it
    instead of decoding each), else None.  ``keep_blanks``: emit a
    ``("", None, None, 0, None)`` entry per blank line instead of
    dropping it — the whitespace-valley evidence the density split
    consumes.  ``char_maps``: fill each line's char map."""
    content = node.content
    if len(content) == 1 and not char_maps and node.tag != "a":
        x = content[0]
        if type(x) is tuple:  # one text run: the common leaf block
            s, e = x
            raw = (doc[s:e] if doc is not None
                   else data[s:e].decode("utf-8", "replace"))
            norm = "" if raw.isspace() else normalize_text(raw)
            if norm:
                return [(norm, s, e, 0, None)], len(norm), 0, False
            return [_BLANK] if keep_blanks else [], 0, 0, False
    lines = []
    raws, links, link_runs = [], [], []
    pieces = [] if char_maps else None
    hs = he = None
    skipped = False
    link = node.tag == "a"
    suspended = []  # (iterator, in_link) of the enclosing inline elements
    it = iter(content)
    while True:
        for x in it:
            if type(x) is tuple:
                s, e = x
                raw = (doc[s:e] if doc is not None
                       else data[s:e].decode("utf-8", "replace"))
                raws.append(raw)
                if link:
                    links.append(raw)
                    link_runs.append(raw)
                if raw.isspace():
                    if pieces is not None:
                        pieces.append((raw, None))
                else:
                    if hs is None:
                        hs = s
                    he = e
                    if pieces is not None:
                        pieces.append((raw, x))
                continue
            kind = _GATHER.get(x.tag)
            if kind is None:  # inline element: descend
                suspended.append((it, link))
                link = link or x.tag == "a"
                it = iter(x.content)
                break
            if kind != _BREAK:
                skipped = skipped or kind == _NESTED
                continue
            ln = _line(raws, hs, he, links, pieces, data)
            if ln is not None:
                lines.append(ln)
            elif keep_blanks:
                lines.append(_BLANK)
            raws, links, hs = [], [], None
            if pieces is not None:
                pieces = []
        else:
            if suspended:
                it, link = suspended.pop()
                continue
            break
    ln = _line(raws, hs, he, links, pieces, data)
    if ln is not None:
        lines.append(ln)
    elif keep_blanks:
        lines.append(_BLANK)
    text_len = sum([len(ln[0]) for ln in lines])
    link_len = (
        min(len(normalize_text(" ".join(link_runs))), text_len)
        if link_runs else 0
    )
    return lines, text_len, link_len, skipped


def _table_cells(data: bytes, doc, table: Node):
    """-> (rows:list[list[str]], has_header). Walks tr/td/th descendants."""
    rows, header_flags = [], []

    def walk(node: Node):
        for child in node.content:
            if type(child) is tuple:
                continue
            if child.tag == "tr":
                cells, all_th = [], True
                for cell in child.content:
                    if type(cell) is not tuple and cell.tag in ("td", "th"):
                        lines = _inline_text(data, doc, cell)[0]
                        cells.append(" ".join([ln[0] for ln in lines]))
                        all_th = all_th and cell.tag == "th"
                if cells:
                    rows.append(cells)
                    header_flags.append(all_th)
            elif child.tag in ("thead", "tbody", "tfoot", TABLE_TAG):
                walk(child)
    walk(table)
    has_header = bool(header_flags) and header_flags[0] and len(rows) > 1
    return rows, has_header


_GAP_WS = b" \t\r\n\f"
_GAP_COMMENT = re.compile(rb"<!--.*?-->", re.S)
_GAP_TAG = re.compile(rb"<[^>]*>")


def _bare(seq: int, node: Node, label: str, tag_path: str, in_chrome: bool,
          start: int, end: int, strength: float = 0.0) -> Block:
    """A text-less SEPARATOR / ILLUSTRATION block."""
    return Block(seq, node.node_id, node.parent_id, label, node.tag,
                 tag_path, node.depth, start, end, "", 0, 0, 0, in_chrome,
                 True, False, False, "", None, False, None, None, False,
                 strength)


def _text_block(seq: int, node: Node, tag_path: str, in_chrome: bool,
                start: int, end: int, lines: list, link_len: int,
                char_maps: bool) -> Block:
    """A TEXT block of non-blank lines."""
    texts = [ln[0] for ln in lines]
    text = "\n".join(texts)
    return Block(seq, node.node_id, node.parent_id, "TEXT", node.tag,
                 tag_path, node.depth, start, end, text, len(texts),
                 len(text) - len(texts) + 1, link_len, in_chrome,
                 text.endswith(_TERMINAL), False, False, "", None, False,
                 [(ln[1], ln[2], ln[3]) for ln in lines],
                 [ln[4] for ln in lines] if char_maps else None)


def _is_rule(line: str) -> bool:
    return line[0] in _RULE_FIRST and bool(_RULE_RE.fullmatch(line))


def extract_page(data: bytes, char_maps: bool = False) -> list:
    """html bytes -> list[Block] in document order.

    ``char_maps=True`` additionally populates ``Block.char_maps``: per
    line, a per-normalized-char array of raw byte offsets (the
    char-granularity offset map; costs ~2x parse time, so opt-in).

    Bytes are first charset-sniffed and transcoded to utf-8
    (tokenizer.to_utf8) — BOM > <meta charset> prescan > utf-8 — so
    legacy-encoded crawl pages extract real text instead of U+FFFD soup.
    utf-8 input passes through untouched (same object, same offsets).
    This is the single decode point every execution path shares
    (relational kernels, fused kernel, and the local oracle all enter
    here)."""
    page = build_tree(to_utf8(data))
    data = page.data
    doc = data.decode("ascii") if data.isascii() else None
    blocks: list = []
    add = blocks.append

    def emit_text_groups(node, lines, link_len, tag_path, in_chrome,
                         skipped):
        """Emit TEXT blocks from assembled lines, splitting at textual
        rule lines AND at density valleys (SplitDetector analog,
        ``layout.py:915-1001``):

        * a line of separator glyphs (``-----``) is an explicit
          whitespace-gutter marker — it becomes a T separator (barrier,
          like <hr>) and splits the element's text;
        * a run of >= SPLIT_MIN_BLANK_LINES consecutive blank lines
          BETWEEN two text runs is an implicit whitespace valley (two
          articles glued inside one container) — the block splits there
          and the gutter itself becomes a zero-text T separator whose
          span is the raw gap between the neighbouring text hulls, so
          downstream adjacency merges treat it as a barrier
          (``check_obstacles`` analog) exactly like an explicit rule.
          Leading/trailing blank runs never split (the reference's
          border exclusion); a piece with no text simply isn't emitted
          (the SplitFilter's empty-side case).

        Non-blank lines always carry a hull, and lines come in
        document order, so a group's hull is its first line's start and
        its last line's end."""
        if len(lines) == 1 and not _is_rule(lines[0][0]):
            ln = lines[0]
            add(_text_block(
                len(blocks), node, tag_path, in_chrome,
                ln[1] if skipped else node.start,
                ln[2] if skipped else node.end, lines, link_len, char_maps))
            return
        groups, cur, blanks, n_text = [], None, 0, 0
        for ln in lines:
            t = ln[0]
            if not t:
                blanks += 1
                continue
            if _is_rule(t):
                groups.append(ln)
                cur = None
            elif cur is not None and blanks < SPLIT_MIN_BLANK_LINES:
                cur.append(ln)
            else:
                if cur is not None:
                    groups.append(blanks)  # gutter between two text groups
                cur = [ln]
                groups.append(cur)
                n_text += 1
            blanks = 0
        start, end = node.start, node.end
        whole = n_text == 1 and not skipped
        for i, g in enumerate(groups):
            if type(g) is int:
                # its span is the raw byte gap between the neighbouring
                # text groups' hulls; strength scales with valley
                # height: 2 blank lines = 1.0 (the default separator),
                # 8+ = 4.0 (capped)
                a, b = groups[i - 1][-1][2], groups[i + 1][0][1]
                add(_bare(len(blocks), node, "SEPARATOR", tag_path,
                          in_chrome, min(a, b), max(a, b),
                          round(min(g / 2.0, 4.0), 2)))
            elif type(g) is tuple:
                # rule-line strength scales with glyph run length:
                # '-----' (5) = 1.0, a 20-glyph rule = 4.0 (capped)
                add(_bare(len(blocks), node, "SEPARATOR", tag_path,
                          in_chrome, g[1], g[2],
                          round(min(len(g[0]) / 5.0, 4.0), 2)))
            else:
                # whole-element span only when this is the single group
                # of a non-container element; otherwise the group's text
                # hull (container rationale: a stray text run in <body>
                # must not swallow sibling blocks via overlap dedupe)
                add(_text_block(
                    len(blocks), node, tag_path, in_chrome,
                    start if whole else g[0][1], end if whole else g[-1][2],
                    g, link_len if n_text == 1 else 0, char_maps))

    def walk(node: Node, prefix: str, chrome: bool) -> None:
        for child in node.content:
            if type(child) is tuple:
                continue
            tag = child.tag
            kind = _KIND.get(tag)
            if kind == _DROP:
                continue
            tag_path = prefix + tag
            in_chrome = chrome or tag in CHROME_TAGS
            if kind == _BLOCK:
                lines, text_len, link_len, skipped = _inline_text(
                    data, doc, child, True, char_maps)
                if text_len:
                    emit_text_groups(child, lines, link_len, tag_path,
                                     in_chrome, skipped)
                walk(child, tag_path + "/", in_chrome)
            elif kind is None:
                # inline element at block level: its text belongs to the
                # nearest block ancestor, but it may still hide nested
                # block elements (tag soup) — recurse to find them
                if _nests(child):
                    walk(child, tag_path + "/", in_chrome)
            elif kind == _MEDIA:
                add(_bare(len(blocks), child, "ILLUSTRATION", tag_path,
                          in_chrome, child.start, child.end))
            elif kind == _HR:
                size = child.attrs.get("size", "")
                # ascii-guard: '³'.isdigit() is True but float('³')
                # raises, and Arabic-Indic digits would parse silently —
                # only plain ASCII digits count as a legacy size attr
                strength = (
                    round(min(max(float(size), 0.5), 4.0), 2)
                    if (size.isascii() and size.isdigit()) else 1.0
                )
                add(_bare(len(blocks), child, "SEPARATOR", tag_path,
                          in_chrome, child.start, child.end, strength))
            elif kind == _TABLE:
                rows, has_header = _table_cells(data, doc, child)
                text = render_table(rows, has_header)
                add(Block(
                    len(blocks), child.node_id, child.parent_id, "TABULAR",
                    tag, tag_path, child.depth, child.start, child.end,
                    text, text.count("\n") + 1 if text else 0,
                    sum(len(c) for r in rows for c in r), 0, in_chrome,
                    text.endswith(_TERMINAL) if text else True, False,
                    False, "", rows, has_header))
            else:  # list: one line per <li>
                lines = []
                for li in child.content:
                    if type(li) is not tuple and li.tag == "li":
                        lines += _inline_text(data, doc, li, False,
                                              char_maps)[0]
                if lines:
                    add(_text_block(len(blocks), child, tag_path, in_chrome,
                                    child.start, child.end, lines, 0,
                                    char_maps))
    root = page.nodes[0]
    walk(root, "", False)

    # bare text at document root (no enclosing block element — plain-text
    # payloads, fragments, sliced spans): gather it like any block
    for c in root.content:
        if type(c) is tuple:
            lines, text_len, link_len, skipped = _inline_text(
                data, doc, root, True, char_maps)
            if text_len:
                emit_text_groups(root, lines, link_len, "#root", False,
                                 skipped)
            # keep document order: root text precedes element blocks
            blocks.sort(key=_DOC_ORDER)
            for i, b in enumerate(blocks):
                b.seq = i
            break

    # line-level re-homing (reference reclassification,
    # batch/detect/lines.py:108-127): a chrome TEXT block that fails the
    # block-level rescue thresholds may still hold individual lines with
    # decisive content evidence — re-emit each such line as its own
    # TEXT block (in_chrome=False) right after its origin, with the
    # line hull as its span.  Requires every line to carry a raw span
    # (otherwise the line<->span zip would misalign).  Shared verbatim
    # by the fused kernel, the relational chain and the local oracle,
    # since all three consume extract_page.
    rehomed: list = []
    for b in blocks:
        rehomed.append(b)
        if not (
            b.in_chrome
            and b.label == "TEXT"
            and not (b.text_len >= RESCUE_MIN_CHARS
                     and b.link_len <= RESCUE_MAX_LINK_SHARE * b.text_len)
            and b.line_spans
            and b.n_lines == sum(
                1 for (s_, _e, _l) in b.line_spans if s_ is not None)
        ):
            continue
        cms = b.char_maps or [None] * len(b.line_spans)
        for line, (s, e, l), cm in zip(b.text.split("\n"), b.line_spans, cms):
            if len(line) >= RESCUE_MIN_CHARS and l <= RESCUE_MAX_LINK_SHARE * len(line):
                rehomed.append(Block(
                    0, b.node_id, b.parent_id, "TEXT", b.tag, b.tag_path,
                    b.depth, s, e, line, 1, len(line), l, False,
                    line.endswith(_TERMINAL), False, False, "", None, False,
                    [(s, e, l)], [cm] if cm is not None else None, True))
    if len(rehomed) != len(blocks):
        blocks = rehomed
        for i, b in enumerate(blocks):
            b.seq = i

    # per-label block numbering -> origami-style paths label/idx
    counters: dict = {}
    for b in blocks:
        i = counters.get(b.label, 0)
        counters[b.label] = i + 1
        b.path = f"{b.label}/{i}"

    # whitespace-gap adjacency flags (fragment-merge evidence); the
    # spans index the transcoded page.data, not the caller's bytes
    for a, b in zip(blocks, blocks[1:]):
        if a.end <= b.start:
            gap = data[a.end:b.start]
            if not gap.strip(_GAP_WS):
                a.ws_gap_next = a.gap_markup_only_next = True
            elif b"<" in gap:
                if b"<!--" in gap:
                    gap = _GAP_COMMENT.sub(b"", gap)
                gap = _GAP_TAG.sub(b"", gap)
                a.gap_markup_only_next = not gap.strip(_GAP_WS)
    return blocks
