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
from dataclasses import dataclass, field

# --- token patterns (bytes) -------------------------------------------------

_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_DOCTYPE_RE = re.compile(rb"<![^>]*>", re.S)
# '<?...' follows the HTML bogus-comment rule: consume to the FIRST
# '>' (which is also how an XHTML prolog <?xml ...?> terminates, since
# its first '>' is the one in '?>').  A lazy '<\?.*?\?>' would instead
# swallow arbitrary page text between a stray '<?' and any later '?>'
# — content loss browsers don't have.
_PI_BOGUS_RE = re.compile(rb"<\?[^>]*>", re.S)
_RAWTEXT_RE = {
    b"script": re.compile(rb"</script\s*>", re.I),
    b"style": re.compile(rb"</style\s*>", re.I),
}
_TAG_RE = re.compile(
    rb"<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>", re.S
)
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


@dataclass
class Node:
    """One DOM element. ``start``/``end`` are byte offsets of the whole
    element (open tag through close tag); ``inner_start``/``inner_end``
    bound its content.  Attributes parse lazily (`attrs`): most nodes
    never need them, and eager parsing showed up as ~6% of kernel time."""

    node_id: int
    parent_id: int
    tag: str
    depth: int
    start: int
    end: int
    inner_start: int
    inner_end: int
    attrs_raw: bytes = b""
    children: list = field(default_factory=list)  # node_ids
    texts: list = field(default_factory=list)  # (start, end) direct text runs

    @property
    def attrs(self) -> dict:
        return _parse_attrs(self.attrs_raw)


@dataclass
class Page:
    nodes: list  # list[Node], document order; nodes[0] is synthetic root
    data: bytes

    def text_of(self, start: int, end: int) -> str:
        return self.data[start:end].decode("utf-8", errors="replace")


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


def tokenize(data: bytes):
    """Yield (kind, payload) events over the byte stream.

    kinds: ("open", tag:str, attrs_raw:bytes, start, end, selfclose:bool),
           ("close", tag:str, start, end), ("text", start, end).
    Comments/doctype/script/style bodies are skipped (DROP semantics).
    """
    pos, n = 0, len(data)
    while pos < n:
        lt = data.find(b"<", pos)
        if lt < 0:
            yield ("text", pos, n)
            break
        if lt > pos:
            yield ("text", pos, lt)
        if data[lt : lt + 2] in (b"<!", b"<?"):
            m = (_COMMENT_RE.match(data, lt) or _DOCTYPE_RE.match(data, lt)
                 or _PI_BOGUS_RE.match(data, lt))
            if m:
                pos = m.end()
                continue
        m = _TAG_RE.match(data, lt)
        if not m:
            # stray '<' — treat as text up to next '<'
            nxt = data.find(b"<", lt + 1)
            nxt = n if nxt < 0 else nxt
            yield ("text", lt, nxt)
            pos = nxt
            continue
        closing, tagb, attrs_raw, selfclose = m.group(1, 2, 3, 4)
        if not selfclose and attrs_raw.endswith(b"/"):
            selfclose = b"/"
            attrs_raw = attrs_raw[:-1]
        tag = tagb.decode("ascii", "replace").lower()
        if closing:
            yield ("close", tag, lt, m.end())
            pos = m.end()
            continue
        yield ("open", tag, attrs_raw, lt, m.end(), bool(selfclose))
        pos = m.end()
        # raw-text elements: skip body to the matching end tag
        raw_re = _RAWTEXT_RE.get(tagb.lower())
        if raw_re and not selfclose:
            em = raw_re.search(data, pos)
            if em:
                yield ("close", tag, em.start(), em.end())
                pos = em.end()
            else:
                pos = n


def build_tree(data: bytes) -> Page:
    """Build a flat node table (document order) with byte spans.

    Tag-soup tolerant: unmatched close tags pop to the nearest matching
    ancestor or are ignored; unclosed elements close at document end
    (matches the reference's tolerance of imperfect inputs —
    ``Decompose``/``buffer(0)`` fixes, ``core/contours.py:157-164``).
    """
    n = len(data)
    root = Node(0, -1, "#root", 0, 0, n, 0, n, b"")
    nodes = [root]
    stack = [root]  # open elements

    # scanning inlined (no event-generator hop: the tokenizer yielded
    # ~160 tuples/doc, measurable at millions of docs); the standalone
    # `tokenize` remains the documented event API
    pos = 0
    tag_match = _TAG_RE.match
    find = data.find
    while pos < n:
        lt = find(b"<", pos)
        if lt < 0:
            stack[-1].texts.append((pos, n))
            break
        if lt > pos:
            stack[-1].texts.append((pos, lt))
        if data[lt + 1 : lt + 2] in (b"!", b"?"):
            m = (_COMMENT_RE.match(data, lt) or _DOCTYPE_RE.match(data, lt)
                 or _PI_BOGUS_RE.match(data, lt))
            if m:
                pos = m.end()
                continue
        m = tag_match(data, lt)
        if not m:
            nxt = find(b"<", lt + 1)
            nxt = n if nxt < 0 else nxt
            stack[-1].texts.append((lt, nxt))
            pos = nxt
            continue
        closing, tagb, attrs_raw, selfclose = m.group(1, 2, 3, 4)
        # the greedy attrs group eats a trailing '/' (XHTML self-close)
        # before the optional group 4 can see it — recover it here
        if not selfclose and attrs_raw.endswith(b"/"):
            selfclose = b"/"
            attrs_raw = attrs_raw[:-1]
        tag = tagb.decode("ascii", "replace").lower()
        pos = m.end()
        if closing:
            # find matching open element; unmatched close tags are ignored
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    while len(stack) > i + 1:  # implicitly close children
                        top = stack.pop()
                        top.inner_end = lt
                        top.end = lt
                    matched = stack.pop()
                    matched.inner_end = lt
                    matched.end = pos
                    break
            continue
        # open tag
        implicit = _IMPLICIT_CLOSE.get(tag)
        if implicit:
            while len(stack) > 1 and stack[-1].tag in implicit:
                top = stack.pop()
                top.inner_end = lt
                top.end = lt
        # HTML5: any block-level start tag implies </p> for an open <p>,
        # popping through any unclosed inline formatting elements
        if tag in BLOCK_TAGS:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == "p":
                    while len(stack) > i:
                        top = stack.pop()
                        top.inner_end = lt
                        top.end = lt
                    break
                if stack[i].tag in BLOCK_TAGS:
                    break
        parent = stack[-1]
        node = Node(
            node_id=len(nodes),
            parent_id=parent.node_id,
            tag=tag,
            depth=len(stack),
            start=lt,
            end=pos,
            inner_start=pos,
            inner_end=pos,
            attrs_raw=attrs_raw,
        )
        nodes.append(node)
        parent.children.append(node.node_id)
        if not selfclose and tag not in VOID_TAGS:
            stack.append(node)
            # raw-text elements: skip body to the matching end tag
            raw_re = _RAWTEXT_RE.get(tagb.lower())
            if raw_re:
                em = raw_re.search(data, pos)
                stack.pop()
                if em:
                    node.inner_end = em.start()
                    node.end = em.end()
                    pos = em.end()
                else:
                    node.inner_end = n
                    node.end = n
                    pos = n
    while len(stack) > 1:
        top = stack.pop()
        top.inner_end = n
        top.end = n
    return Page(nodes=nodes, data=data)


def normalize_text(raw: str) -> str:
    """Entity-decode and whitespace-collapse one text run.

    The web analog of origami's harmonization/LetterFilter normalization
    (``batch/detect/compose.py:588-593``): deterministic, idempotent.
    """
    return _WS_COLLAPSE_RE.sub(" ", _htmllib.unescape(raw)).strip()


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
