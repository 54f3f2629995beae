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
from dataclasses import dataclass, field

from .render import render_table
from .tokenizer import (
    BLOCK_TAGS,
    DROP_TAGS,
    _WS_COLLAPSE_RE,
    Node,
    Page,
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


@dataclass
class Block:
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


def _is_block(tag: str) -> bool:
    return tag in BLOCK_TAGS


_BR = "\x00"  # line-break sentinel; never occurs in normalized text


class _Gather:
    """Inline-content accumulator: (text, raw-span, is_link) parts, link
    parts, and whether nested block children were skipped (container
    evidence).

    Parts carry their raw byte spans so every *line* gets an exact hull
    into the source document — the forward/inverse offset map of
    origami's dewarp grid (``core/dewarp.py:496-576``), at the
    granularity compose and the lines stage consume.  The is_link flag
    feeds per-line link evidence (line confidence, the
    ``ConfidenceSampler`` analog — reference ``batch/detect/lines.py:
    25-54`` samples segmentation labels under each line; the label
    evidence under a web line is which characters sit inside <a>)."""

    def __init__(self):
        self.parts: list = []        # (str, (s, e) | None, is_link)
        self.link_parts: list = []
        self.skipped_block = False


def _gather_inline(page: Page, node: Node, g: _Gather, in_link: bool) -> None:
    """Collect raw text fragments of `node`'s inline content into `g`.

    Stops at nested block elements (marking `skipped_block`); recursion
    through inline elements only."""
    parts = g.parts
    if not node.children:  # fast path: text-only node (most leaves)
        for (s, e) in node.texts:
            raw = page.text_of(s, e)
            parts.append((raw, (s, e) if raw.strip() else None, in_link))
            if in_link:
                g.link_parts.append(raw)
        return
    if node.texts:
        items = [(s, (s, e)) for (s, e) in node.texts]
        items += [(page.nodes[cid].start, cid) for cid in node.children]
        items.sort(key=lambda t: t[0])
    else:  # children only: already in document order
        items = [(0, cid) for cid in node.children]
    for _, payload in items:
        if type(payload) is tuple:
            s, e = payload
            raw = page.text_of(s, e)
            parts.append((raw, (s, e) if raw.strip() else None, in_link))
            if in_link:
                g.link_parts.append(raw)
        else:
            child = page.nodes[payload]
            ctag = child.tag
            if ctag in DROP_TAGS:
                continue
            if ctag in BLOCK_TAGS:
                g.skipped_block = True
                continue
            if ctag == "br":
                parts.append((_BR, None, False))
                continue
            _gather_inline(page, child, g, in_link or ctag == "a")


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


def _assemble_lines(parts, keep_blanks: bool = False,
                    char_maps: bool = False, data: bytes = b""):
    """(text, span, is_link) parts -> list of (normalized_line, hull_s,
    hull_e, link_len, char_map); empty lines dropped.  Hull = min/max
    raw span of the line's contributing non-whitespace runs; link_len =
    normalized char count of the line's <a> content (per-line
    confidence evidence, same normalization as the block-level
    link_len).

    ``keep_blanks``: emit a ``("", None, None, 0, None)`` entry per
    blank line instead of dropping it — the whitespace-valley evidence
    the density-split in ``emit_text_groups`` consumes (blank runs
    between text runs are invisible once dropped).

    ``char_maps``: populate the 5th slot with the per-char raw-offset
    array from :func:`_normalize_with_map` (None otherwise — the
    default path never pays for the map)."""
    lines = []
    pbuf, lbuf = [], []
    for text, span, is_link in parts:
        if text == _BR:
            lines.append((pbuf, lbuf))
            pbuf, lbuf = [], []
            continue
        pbuf.append((text, span))
        if is_link:
            lbuf.append(text)
    lines.append((pbuf, lbuf))
    out = []
    for pieces, lparts in lines:
        raw = "".join(t for t, _ in pieces)
        norm = normalize_text(raw)
        if norm:
            spans = [sp for _, sp in pieces if sp is not None]
            hs = min(sp[0] for sp in spans) if spans else None
            he = max(sp[1] for sp in spans) if spans else None
            llen = len(normalize_text(" ".join(lparts))) if lparts else 0
            cmap = None
            if char_maps:
                norm2, cmap = _normalize_with_map(pieces, data)
                if norm2 != norm:   # contract breach — fail loudly
                    raise ValueError(
                        f"char-map normalization diverged: {norm2!r} != {norm!r}")
            out.append((norm, hs, he, min(llen, len(norm)), cmap))
        elif keep_blanks:
            out.append(("", None, None, 0, None))
    return out


def _inline_text(page: Page, node: Node, keep_blanks: bool = False,
                 char_maps: bool = False):
    """-> (lines, text_len, link_len, gather) where lines is a list of
    (normalized_text, hull_start, hull_end, link_len, char_map)."""
    g = _Gather()
    _gather_inline(page, node, g, node.tag == "a")
    lines = _assemble_lines(g.parts, keep_blanks=keep_blanks,
                            char_maps=char_maps, data=page.data)
    text_len = sum(len(ln) for (ln, _s, _e, _l, _c) in lines)
    link_len = (
        len(normalize_text(" ".join(g.link_parts))) if g.link_parts else 0
    )
    return lines, text_len, min(link_len, text_len), g


def _table_cells(page: Page, table: Node):
    """-> (rows:list[list[str]], has_header). Walks tr/td/th descendants."""
    rows, header_flags = [], []

    def walk(node: Node):
        for cid in node.children:
            child = page.nodes[cid]
            if child.tag == "tr":
                cells, all_th = [], True
                for gid in child.children:
                    cell = page.nodes[gid]
                    if cell.tag in ("td", "th"):
                        lines, _, _, _g = _inline_text(page, cell)
                        cells.append(" ".join(ln for (ln, _s, _e, _l, _c) in lines))
                        all_th = all_th and cell.tag == "th"
                if cells:
                    rows.append(cells)
                    header_flags.append(all_th)
            elif child.tag in ("thead", "tbody", "tfoot", TABLE_TAG):
                walk(child)
    walk(table)
    has_header = bool(header_flags) and header_flags[0] and len(rows) > 1
    return rows, has_header


_WS_ONLY = re.compile(rb"[ \t\r\n\f]*")
_GAP_COMMENT = re.compile(rb"<!--.*?-->", re.S)
_GAP_TAG = re.compile(rb"<[^>]*>")


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
    blocks: list = []
    tag_stack: list = []

    def chrome(tag_path_parts) -> bool:
        return any(t in CHROME_TAGS for t in tag_path_parts)

    def emit(node: Node, label: str, text: str, n_lines: int,
             text_len: int, link_len: int, path_parts,
             span: tuple | None = None,
             line_spans: list | None = None,
             strength: float = 0.0,
             char_maps: list | None = None) -> None:
        start, end = span if span else (node.start, node.end)
        blocks.append(Block(
            seq=len(blocks), node_id=node.node_id, parent_id=node.parent_id,
            label=label, tag=node.tag, tag_path="/".join(path_parts),
            depth=node.depth, start=start, end=end, text=text,
            n_lines=n_lines, text_len=text_len, link_len=link_len,
            in_chrome=chrome(path_parts),
            ends_clean=text.endswith(_TERMINAL) if text else True,
            line_spans=line_spans,
            strength=strength,
            char_maps=char_maps,
        ))

    def emit_text_groups(child, lines, text_len, link_len, parts, g):
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
          (the SplitFilter's empty-side case)."""
        groups, cur, blanks = [], [], 0
        for ln in lines:
            if ln[0] == "":
                blanks += 1
                continue
            if _RULE_RE.fullmatch(ln[0]):
                groups.append(("sep", [ln]))
                cur = []
            elif cur and blanks >= SPLIT_MIN_BLANK_LINES:
                groups.append(("gutter", blanks))
                cur = [ln]
                groups.append(("text", cur))
            else:
                if not cur:
                    cur = []
                    groups.append(("text", cur))
                cur.append(ln)
            blanks = 0
        n_groups = sum(1 for k, _ in groups if k == "text")

        def hull_of(gl):
            return (
                (min(s for (_t, s, _e, _l, _c) in gl if s is not None),
                 max(e for (_t, _s, e, _l, _c) in gl if e is not None))
                if any(s is not None for (_t, s, _e, _l, _c) in gl)
                else None
            )

        for i, (kind, gl) in enumerate(groups):
            if kind == "gutter":
                # by construction a gutter sits between two text groups;
                # its span is the raw byte gap between their hulls
                ph = hull_of(groups[i - 1][1])
                nh = hull_of(groups[i + 1][1])
                span = (
                    (min(ph[1], nh[0]), max(ph[1], nh[0]))
                    if ph and nh else (child.start, child.end)
                )
                # strength scales with valley height: 2 blank lines =
                # 1.0 (the default separator), 8+ = 4.0 (capped)
                emit(child, "SEPARATOR", "", 0, 0, 0,
                     parts, span=span,
                     strength=round(min(gl / 2.0, 4.0), 2))
                continue
            hull = hull_of(gl)
            if kind == "sep":
                # rule-line strength scales with glyph run length:
                # '-----' (5) = 1.0, a 20-glyph rule = 4.0 (capped)
                emit(child, "SEPARATOR", "", 0, 0, 0,
                     parts, span=hull or (child.start, child.end),
                     strength=round(min(len(gl[0][0]) / 5.0, 4.0), 2))
                continue
            texts = [t for (t, _s, _e, _l, _c) in gl]
            tlen = sum(len(t) for t in texts)
            # whole-element span only when this is the single group of a
            # non-container element; otherwise the group's text hull
            # (container rationale: a stray text run in <body> must not
            # swallow sibling blocks via overlap dedupe)
            span = None
            if n_groups > 1 or (g is not None and g.skipped_block):
                span = hull
            emit(child, "TEXT", "\n".join(texts), len(texts),
                 tlen, link_len if n_groups == 1 else 0, parts,
                 span=span,
                 line_spans=[(s, e, l) for (_t, s, e, l, _c) in gl],
                 char_maps=(
                     [c for (_t, _s, _e, _l, c) in gl]
                     if any(c is not None for (_t, _s, _e, _l, c) in gl)
                     else None))

    def walk(node: Node, path_parts: list) -> None:
        for cid in node.children:
            child = page.nodes[cid]
            tag = child.tag
            if tag in DROP_TAGS:
                continue
            parts = path_parts + [tag]
            if tag == "hr":
                size = child.attrs.get("size", "")
                # ascii-guard: '³'.isdigit() is True but float('³')
                # raises, and Arabic-Indic digits would parse silently —
                # only plain ASCII digits count as a legacy size attr
                strength = (
                    round(min(max(float(size), 0.5), 4.0), 2)
                    if (size.isascii() and size.isdigit()) else 1.0
                )
                emit(child, "SEPARATOR", "", 0, 0, 0, parts,
                     strength=strength)
            elif tag == TABLE_TAG:
                rows, has_header = _table_cells(page, child)
                text = render_table(rows, has_header)
                tlen = sum(len(c) for r in rows for c in r)
                emit(child, "TABULAR", text,
                     text.count("\n") + 1 if text else 0, tlen, 0, parts)
                blocks[-1].cells = rows
                blocks[-1].has_header = has_header
            elif tag in LIST_TAGS:
                lines = []
                for gid in child.children:
                    li = page.nodes[gid]
                    if li.tag == "li":
                        li_lines, _, _, _g = _inline_text(
                            page, li, char_maps=char_maps)
                        lines.extend(li_lines)
                if lines:
                    emit(child, "TEXT",
                         "\n".join(ln for (ln, _s, _e, _l, _c) in lines), len(lines),
                         sum(len(ln) for (ln, _s, _e, _l, _c) in lines), 0, parts,
                         line_spans=[(s, e, l) for (_t, s, e, l, _c) in lines],
                         char_maps=(
                             [c for (_t, _s, _e, _l, c) in lines]
                             if any(c is not None for (_t, _s, _e, _l, c) in lines)
                             else None))
            elif tag in MEDIA_TAGS:
                emit(child, "ILLUSTRATION", "", 0, 0, 0, parts)
            elif _is_block(tag):
                lines, text_len, link_len, g = _inline_text(
                    page, child, keep_blanks=True, char_maps=char_maps)
                if lines:
                    emit_text_groups(child, lines, text_len, link_len,
                                     parts, g)
                walk(child, parts)
            else:
                # inline element at block level: its text belongs to the
                # nearest block ancestor, but it may still hide nested
                # block elements (tag soup) — recurse to find them
                if any(_is_block(page.nodes[g_].tag) or page.nodes[g_].children
                       for g_ in child.children):
                    walk(child, parts)
    walk(page.nodes[0], [])

    # bare text at document root (no enclosing block element — plain-text
    # payloads, fragments, sliced spans): gather it like any block
    root = page.nodes[0]
    if root.texts:
        lines, text_len, link_len, g = _inline_text(
            page, root, keep_blanks=True, char_maps=char_maps)
        if lines:
            emit_text_groups(root, lines, text_len, link_len, ["#root"], g)
            # keep document order: root text precedes element blocks
            blocks.sort(key=lambda b: (b.start, b.node_id))
            for i, b in enumerate(blocks):
                b.seq = i

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
                    seq=0, node_id=b.node_id, parent_id=b.parent_id,
                    label="TEXT", tag=b.tag, tag_path=b.tag_path,
                    depth=b.depth, start=s, end=e, text=line, n_lines=1,
                    text_len=len(line), link_len=l, in_chrome=False,
                    ends_clean=line.endswith(_TERMINAL),
                    line_spans=[(s, e, l)],
                    char_maps=[cm] if cm is not None else None,
                    rehomed=True,
                ))
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
    data = page.data
    for a, b in zip(blocks, blocks[1:]):
        if a.end <= b.start:
            a.ws_gap_next = bool(_WS_ONLY.fullmatch(data, a.end, b.start))
            if a.ws_gap_next:
                a.gap_markup_only_next = True
            else:
                gap = _GAP_COMMENT.sub(b"", data[a.end:b.start])
                gap = _GAP_TAG.sub(b"", gap)
                a.gap_markup_only_next = bool(_WS_ONLY.fullmatch(gap))
    return blocks
