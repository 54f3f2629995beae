"""Single-document extractor: the per-document engine of the fused path.

Applies, in pure Python, exactly the rule sequence the Spark pipeline
implements relationally (operators/layout.py + operators/compose.py).
``pipeline.extract_fused`` runs it inside one Arrow kernel per batch, so
it is the engine behind ``extract_fused``, ``jobs/corpus_job.py`` and the
perfbench workloads.  It also runs without a SparkSession, so spec bugs
can be found in plain Python, and the relational pipeline is asserted
equal to it *and* to the constructive goldens.

Rule sequence (mirrors origami's layout rule pipeline,
``custom/layouts/bbz.py:50-86``, re-expressed for spans):

1. frame removal      — drop blocks with chrome ancestry (nav/header/
                        footer/aside/form); HeuristicFrameDetector analog
                        (``core/contours.py:354-426``)
2. boilerplate filter — drop TEXT blocks with link_density > 0.5 or empty
                        text (AreaFilter analog, ``layout.py:872-883``;
                        reliable_contours analog ``batch/core/lines.py:15-48``)
3. adjacency merge    — consecutive <p> blocks, both single-line, prev
                        not sentence-terminal, no separator between;
                        either same parent + whitespace-only gap
                        (AdjacencyMerger/IsOnSameLine analog,
                        ``layout.py:369-408``) or seq-adjacent + markup-
                        only gap across sibling containers (IsBelow
                        continuation analog, ``layout.py:411-440``)
                        -> one block
4. ordering           — by (start, seq): DOM order, the 1-D XY-cut result
                        (``core/xycut.py:187-241``)
5. compose            — "\n\n" between blocks + trailing "\n"
                        (PlainTextComposition analog, ``compose.py:565-585``)
"""

from __future__ import annotations

from operator import itemgetter

# the rule thresholds are single-sourced in html/blocks.py (shared with
# the parse-time line re-homing and operators/layout.py)
from .html.blocks import (
    LINK_DENSITY_MAX,
    RESCUE_MAX_LINK_SHARE,
    RESCUE_MIN_CHARS,
    Block,
    extract_page,
)

_START_SEQ = itemgetter("start", "seq")


def survives(b: Block) -> bool:
    if b.in_chrome:
        rescued = (
            b.label == "TEXT"
            and b.text_len >= RESCUE_MIN_CHARS
            and b.link_len <= RESCUE_MAX_LINK_SHARE * b.text_len
        )
        if not rescued:
            return False
    if b.label == "TABULAR":
        return bool(b.text)
    if b.label != "TEXT":
        return False  # ILLUSTRATION / SEPARATOR never compose
    if b.text_len == 0:
        return False
    if b.link_len > LINK_DENSITY_MAX * b.text_len:
        return False
    return True


def merge_with_prev(prev: Block, cur: Block) -> bool:
    """Adjacency-merge criteria (must match operators/layout.py):
    IsOnSameLine (same parent, whitespace-only gap) OR IsBelow
    continuation (adjacent in the full emitted sequence, markup-only
    gap — a paragraph split across sibling containers)."""
    if not (
        prev is not None
        and cur.label == "TEXT"
        and prev.label == "TEXT"
        and cur.tag == "p"
        and prev.tag == "p"
        and prev.n_lines == 1
        and cur.n_lines == 1
        and not prev.ends_clean
    ):
        return False
    same_line = cur.parent_id == prev.parent_id and prev.ws_gap_next
    is_below = cur.seq == prev.seq + 1 and prev.gap_markup_only_next
    return same_line or is_below


def extract_document(html: bytes) -> dict:
    """-> {text, spans:[{label,start,end}], blocks:[{label, path, seq,
    start, end, text, merged_from}]} for one page."""
    # rules 1+2, but keep SEPARATOR rows as merge barriers (they only
    # drop after the merge step — see operators/layout.py).  Line-level
    # re-homing already happened inside extract_page: a rescued line
    # arrives as its own in_chrome=False block.
    # rule 3: group consecutive mergeable blocks
    groups: list = []
    prev = None
    for b in extract_page(html):
        if b.label == "SEPARATOR" or survives(b):
            if prev is not None and merge_with_prev(prev, b):
                groups[-1].append(b)
            else:
                groups.append([b])
            prev = b

    merged = []
    for g in groups:
        first = g[0]
        if first.label == "SEPARATOR":
            continue
        end, text = first.end, first.text
        if len(g) > 1:
            end = max([m.end for m in g])
            text = " ".join([m.text for m in g])
        merged.append({
            "label": first.label,
            "path": first.path,
            "seq": first.seq,
            "start": first.start,
            "end": end,
            "text": text,
            "merged_from": [m.path for m in g[1:]],
        })

    # rule 4: drop blocks contained in an earlier block's span
    # (OverlapMerger analog — running-max containment, see
    # operators/layout.py drop_contained)
    merged.sort(key=_START_SEQ)
    max_end = -1
    deduped = []
    for m in merged:
        if m["end"] > max_end:
            deduped.append(m)
            max_end = m["end"]

    # rule 5: deterministic order (already sorted by start)

    # rule 6: compose
    text = "\n\n".join([m["text"] for m in deduped])
    if text:
        text += "\n"
    spans = [
        {"label": m["label"], "start": m["start"], "end": m["end"]}
        for m in deduped
    ]
    return {"text": text, "spans": spans, "blocks": deduped}
