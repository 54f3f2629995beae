"""Parse+segment kernel: pages -> exploded block rows (stages S1+S2).

One Arrow batch of (url, html) in, one batch of block rows out.  This
fuses origami's segment (pixel labeling, ``batch/detect/segment.py``) and
contours (raster->vector, ``batch/detect/contours.py``) stages: for HTML
the DOM parse yields labeled vector blocks directly, so splitting them
into two passes would only re-parse the same bytes.

The per-document work is pure Python over bytes (tree builder and block
walker), executed batch-at-a-time inside mapInPandas — the web analog of
origami's numpy raster kernels: no Spark-level per-row Python.  The
token regex is a minority of it; most of the time is the interpreted
tree building and block walking around it.
"""

from __future__ import annotations

import json

import pandas as pd

from ..html.blocks import extract_page

BLOCKS_SCHEMA = (
    "url string, seq int, path string, label string, tag string, "
    "tag_path string, depth int, parent_id int, start bigint, end bigint, "
    "text string, n_lines int, text_len bigint, link_len bigint, "
    "in_chrome boolean, ends_clean boolean, ws_gap_next boolean, "
    "gap_markup_only_next boolean, strength double, rehomed boolean, "
    "cells_json string, "
    "line_spans array<struct<start:bigint,end:bigint,link_len:bigint>>"
)

_COLS = [f.split()[0] for f in BLOCKS_SCHEMA.split(", ")]


def parse_blocks(batches):
    """mapInPandas kernel: (url, html[, ...]) -> block rows."""
    for pdf in batches:
        out = {c: [] for c in _COLS}
        for url, html in zip(pdf["url"], pdf["html"]):
            data = bytes(html) if html is not None else b""
            for b in extract_page(data):
                out["url"].append(url)
                out["seq"].append(b.seq)
                out["path"].append(b.path)
                out["label"].append(b.label)
                out["tag"].append(b.tag)
                out["tag_path"].append(b.tag_path)
                out["depth"].append(b.depth)
                out["parent_id"].append(b.parent_id)
                out["start"].append(b.start)
                out["end"].append(b.end)
                out["text"].append(b.text)
                out["n_lines"].append(b.n_lines)
                out["text_len"].append(b.text_len)
                out["link_len"].append(b.link_len)
                out["in_chrome"].append(b.in_chrome)
                out["ends_clean"].append(b.ends_clean)
                out["ws_gap_next"].append(b.ws_gap_next)
                out["gap_markup_only_next"].append(b.gap_markup_only_next)
                out["strength"].append(b.strength)
                out["rehomed"].append(b.rehomed)
                out["cells_json"].append(
                    json.dumps({"rows": b.cells, "has_header": b.has_header})
                    if b.cells is not None else None
                )
                out["line_spans"].append(
                    [{"start": s_, "end": e_, "link_len": l_}
                     for (s_, e_, l_) in b.line_spans if s_ is not None]
                    if b.line_spans is not None else None
                )
        yield pd.DataFrame(out)
