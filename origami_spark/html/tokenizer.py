"""HTML byte tokenizer + tree builder with exact byte offsets.

No external parser (bs4/lxml unavailable, and neither tracks byte offsets).
A small regex token scanner over *bytes* keeps every node's span as a true
offset into the raw document, which the pipeline carries end-to-end so the
final output's ``spans`` index into the stored ``html`` column.

Reference analog: origami labels page pixels with a CNN and vectorizes the
label raster into contours (``core/predict.py:158-301``,
``core/contours.py:59-73``); here the "raster" is the byte stream and the
"contours" are DOM nodes with byte spans.
"""

from __future__ import annotations

import html as _htmllib
import re
from dataclasses import dataclass

# --- token pattern (bytes) --------------------------------------------------

# One search per token, tried in this order at the next '<': a comment,
# a '<!...>' declaration, a '<?...>' processing instruction, a start or
# end tag, else the bare '<' alone (a stray '<' is text).  Comments,
# declarations and PIs leave group 2 (the tag name) empty.
#
# '<?...' follows the HTML bogus-comment rule: consume to the FIRST
# '>' (which is also how an XHTML prolog <?xml ...?> terminates, since
# its first '>' is the one in '?>').  A lazy '<\?.*?\?>' would instead
# swallow arbitrary page text between a stray '<?' and any later '?>'
# — content loss browsers don't have.
#
# The attribute group is greedy, so an XHTML self-close '/' ends up as
# its last byte; build_tree strips it from there.
_TOKEN_RE = re.compile(
    rb"<(?:!--.*?-->|![^>]*>|\?[^>]*>"
    rb"|(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>|)",
    re.S,
)
_RAWTEXT_RE = {
    b"script": re.compile(rb"</script\s*>", re.I),
    b"style": re.compile(rb"</style\s*>", re.I),
}
_ATTR_RE = re.compile(
    rb"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
_WS_COLLAPSE_RE = re.compile(r"\s+")

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# tags whose subtree is dropped entirely (never text content)
DROP_TAGS = frozenset(
    "script style noscript template svg iframe object head title".split()
)

# elements that establish a block boundary in the rendered document
BLOCK_TAGS = frozenset(
    (
        "address article aside blockquote body caption dd details dir div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html "
        "li main menu nav ol p pre section summary table tbody td tfoot th thead "
        "tr ul"
    ).split()
)

# implicit close pairs for tag-soup tolerance: opening key closes an open value
_IMPLICIT_CLOSE = {
    "li": {"li"},
    "p": {"p"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"tr", "td", "th"},
    "option": {"option"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
}


def _tag_info(tagb: bytes) -> tuple:
    """Raw tag-name bytes -> (tag, implicit-close set, is block, may have
    content, raw-text end pattern)."""
    tag = tagb.decode("ascii").lower()
    return (tag, _IMPLICIT_CLOSE.get(tag), tag in BLOCK_TAGS,
            tag not in VOID_TAGS, _RAWTEXT_RE.get(tagb.lower()))


# _tag_info of the HTML element names in lower and upper case; other
# spellings are looked up per tag
_TAG_INFO = {
    b: _tag_info(b)
    for t in BLOCK_TAGS | VOID_TAGS | DROP_TAGS | _IMPLICIT_CLOSE.keys() | {
        "a", "abbr", "audio", "b", "bdi", "bdo", "big", "button", "canvas",
        "center", "cite", "code", "data", "del", "dfn", "em", "font", "i",
        "ins", "kbd", "label", "mark", "nobr", "optgroup", "picture", "q",
        "s", "samp", "select", "small", "span", "strong", "sub", "sup",
        "textarea", "time", "u", "var", "video"}
    for b in (t.encode(), t.upper().encode())
}


class Node:
    """One DOM element. ``start``/``end`` are byte offsets of the whole
    element (open tag through close tag); ``inner_start``/``inner_end``
    bound its content.  ``content`` holds the element's direct text runs
    (``(start, end)`` tuples) and child ``Node``s in document order;
    ``texts`` and ``children`` are views of it.  Attributes parse lazily
    (`attrs`): most nodes never need them."""

    __slots__ = ("node_id", "parent_id", "tag", "depth", "start", "end",
                 "inner_start", "inner_end", "attrs_raw", "content")

    def __init__(self, node_id: int, parent_id: int, tag: str, depth: int,
                 start: int, end: int, attrs_raw: bytes = b""):
        self.node_id = node_id
        self.parent_id = parent_id
        self.tag = tag
        self.depth = depth
        self.start = start
        self.end = end
        self.inner_start = end
        self.inner_end = end
        self.attrs_raw = attrs_raw
        self.content = []

    @property
    def children(self) -> list:
        """node_ids of the child elements, in document order."""
        return [c.node_id for c in self.content if type(c) is Node]

    @property
    def texts(self) -> list:
        """(start, end) of the direct text runs, in document order."""
        return [c for c in self.content if type(c) is tuple]

    @property
    def attrs(self) -> dict:
        return _parse_attrs(self.attrs_raw)


@dataclass(slots=True)
class Page:
    nodes: list  # list[Node], document order; nodes[0] is synthetic root
    data: bytes


def _parse_attrs(raw: bytes) -> dict:
    attrs = {}
    for m in _ATTR_RE.finditer(raw):
        k = m.group(1).decode("ascii", "replace").lower()
        v = m.group(2)
        if v is None:
            attrs[k] = ""
        else:
            v = v.strip(b"\"'").decode("utf-8", "replace")
            attrs[k] = v
    return attrs


def build_tree(data: bytes) -> Page:
    """Build a flat node table (document order) with byte spans.

    Tag-soup tolerant: unmatched close tags pop to the nearest matching
    ancestor or are ignored; unclosed elements close at document end
    (matches the reference's tolerance of imperfect inputs —
    ``Decompose``/``buffer(0)`` fixes, ``core/contours.py:157-164``).
    Text runs split at every '<', a stray one included.
    """
    n = len(data)
    root = Node(0, -1, "#root", 0, 0, n)
    root.inner_start = 0
    nodes = [root]
    stack = [root]  # open elements
    top = root
    content = root.content  # top.content
    info_of = _TAG_INFO.get
    pos = 0  # start of the pending text run
    tokens = _TOKEN_RE.finditer(data)
    while True:
        for m in tokens:
            lt, end = m.span()
            if lt > pos:
                content.append((pos, lt))
            closing, tagb, attrs_raw = m.groups()
            if tagb is None:
                # comment, declaration or PI: skipped; a stray '<' starts a
                # text run that ends at the next '<'
                pos = lt if end == lt + 1 else end
                continue
            pos = end
            tag, implicit, is_block, has_content, raw_re = (
                info_of(tagb) or _tag_info(tagb))
            if closing:
                # the nearest open element of that name closes, with every
                # element above it; unmatched close tags are ignored
                if top.tag != tag:
                    for i in range(len(stack) - 2, 0, -1):
                        if stack[i].tag == tag:
                            for t in stack[i + 1:]:
                                t.inner_end = t.end = lt
                            del stack[i + 1:]
                            top = stack[i]
                            break
                    else:
                        continue
                top.inner_end = lt
                top.end = pos
                stack.pop()
                top = stack[-1]
                content = top.content
                continue
            # open tag
            if implicit is not None and top.tag in implicit:
                while top.tag in implicit:
                    top.inner_end = top.end = lt
                    stack.pop()
                    top = stack[-1]
                content = top.content
            # HTML5: any block-level start tag implies </p> for an open <p>,
            # popping through any unclosed inline formatting elements
            if is_block and (top.tag == "p" or top.tag not in BLOCK_TAGS):
                for i in range(len(stack) - 1, 0, -1):
                    t = stack[i].tag
                    if t == "p":
                        for t in stack[i:]:
                            t.inner_end = t.end = lt
                        del stack[i:]
                        top = stack[-1]
                        content = top.content
                        break
                    if t in BLOCK_TAGS:
                        break
            node = Node(len(nodes), top.node_id, tag, len(stack), lt, pos,
                        attrs_raw)
            nodes.append(node)
            content.append(node)
            if attrs_raw[-1:] == b"/":  # XHTML self-close
                node.attrs_raw = attrs_raw[:-1]
            elif has_content:
                if raw_re is None:
                    stack.append(node)
                    top = node
                    content = node.content
                else:
                    # raw-text element: skip its body to the matching end tag
                    em = raw_re.search(data, pos)
                    if em:
                        node.inner_end = em.start()
                        node.end = pos = em.end()
                    else:
                        node.inner_end = node.end = pos = n
                    tokens = _TOKEN_RE.finditer(data, pos)
                    break
        else:
            break
    if pos < n:
        content.append((pos, n))
    for t in stack[1:]:
        t.inner_end = t.end = n
    return Page(nodes, data)


def normalize_text(raw: str) -> str:
    """Entity-decode and whitespace-collapse one text run.

    The web analog of origami's harmonization/LetterFilter normalization
    (``batch/detect/compose.py:588-593``): deterministic, idempotent.
    """
    if "&" in raw:
        raw = _htmllib.unescape(raw)
    # str.split() splits on exactly the characters r"\s" matches, so
    # this is the r"\s+" -> " " collapse plus strip
    return " ".join(raw.split())


# ---------------------------------------------------------------------------
# charset sniffing (the "decode raw input bytes" stage — the web analog
# of origami's OCR decode, batch/detect/ocr.py:89-274).  A real crawl
# slice is several percent legacy-encoded; without this those pages
# tokenize as U+FFFD soup and silently pass the whole pipeline.
# ---------------------------------------------------------------------------

# <meta charset=X> / <meta http-equiv=content-type content="...charset=X">
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+?charset\s*=\s*["']?\s*([a-zA-Z0-9_\-:.]+)""",
    re.IGNORECASE,
)
_SNIFF_LIMIT = 1024  # per the HTML5 prescan, only the head matters

# labels that mean "already the bytes we want" — pass through untouched
# so the hot path (real-world UTF-8) costs one BOM check + one regex
_UTF8_LABELS = {"utf-8", "utf8", "ascii", "us-ascii", "utf_8"}


def sniff_charset(data: bytes) -> tuple[str, int]:
    """(encoding-label, bom-length) via BOM, then a <meta charset> /
    http-equiv prescan of the first 1024 bytes, else utf-8.

    Mirrors the HTML5 encoding-sniff precedence (BOM > transport/meta >
    default); a meta claiming utf-16 is ignored per the spec (an
    ASCII-readable meta cannot be inside real utf-16 bytes)."""
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8", 3
    if data[:2] == b"\xff\xfe":
        return "utf-16-le", 2
    if data[:2] == b"\xfe\xff":
        return "utf-16-be", 2
    m = _META_CHARSET_RE.search(data[:_SNIFF_LIMIT])
    if m:
        label = m.group(1).decode("ascii", "replace").lower()
        # HTML5: a utf-16/32 meta readable as 8-bit bytes is a lie.
        # Resolve the label through the codec registry first so aliases
        # (utf16, utf-16le, UTF_16BE, ...) are caught, not just the
        # canonical spellings.
        import codecs

        try:
            resolved = codecs.lookup(label).name
        except LookupError:
            resolved = label
        if resolved.startswith(("utf-16", "utf-32")):
            return "utf-8", 0
        return label, 0
    return "utf-8", 0


def to_utf8(data: bytes) -> bytes:
    """Transcode page bytes to utf-8 per the sniffed charset.

    utf-8 / ascii input returns the SAME object (no copy) so utf-8
    corpora keep bit-identical digests and byte offsets; a BOM is
    stripped; an unknown/mislabeled charset must never raise — unknown
    labels fall back to utf-8 and decode errors are replaced.  After
    this, every downstream byte offset refers to the utf-8 form of the
    document (for non-utf-8 pages the raw archive offsets differ — the
    span contract is over the decoded document, like the reference's
    dewarped coordinate space)."""
    enc, bom = sniff_charset(data)
    if enc in _UTF8_LABELS:
        return data[bom:] if bom else data
    import codecs

    try:
        codec = codecs.lookup(enc).name
    except LookupError:
        return data[bom:] if bom else data  # unknown label: assume utf-8
    if codec == "utf-8":
        return data[bom:] if bom else data
    return data[bom:].decode(codec, errors="replace").encode("utf-8")
