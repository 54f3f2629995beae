"""WARC source: Common-Crawl-style archive files -> the pages table.

The engine's input contract is a table ``(url, warc_ts, html, ...)``,
but crawl data arrives as WARC files (ISO 28500, public spec): a
sequence of records, each with ``WARC/1.x`` + headers, a blank line,
``Content-Length`` payload bytes, and a ``\\r\\n\\r\\n`` trailer.
Common Crawl additionally gzips each record individually so archives
are splittable by member; both plain and per-record-gzip forms are
handled (concatenated-member decompression via zlib).

Spark shape: ``spark.read.format("binaryFile")`` over the archive glob
-> one ``mapInPandas`` kernel parsing whole files into page rows.  WARC
files are bounded (~1 GB in Common Crawl), so file-at-a-time parsing is
the standard unit of parallelism — parallelism comes from the number of
archives, exactly like the reference corpus layout (one artifact file
per work unit, ``batch/core/processor.py``).

No external warc library — the parser is ~60 lines over bytes, and the
synthetic writer below makes tests hermetic.
"""

from __future__ import annotations

import datetime as _dt
import io
import zlib

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"


def _next_record_start(data: bytes, from_pos: int) -> int:
    """Position of the next VALIDATED record start at or after
    ``from_pos``, or -1.

    A bare ``\\r\\nWARC/`` search can land inside the skipped record's
    HTML payload (a page QUOTING WARC headers), resyncing mid-payload
    and emitting garbage-framed records (ADVICE r3).  A candidate is
    accepted only when it parses as a ``WARC/x.y`` version line followed
    by a CRLF-terminated header block that carries a ``WARC-Type``
    header — quoted fragments rarely reproduce the whole frame, and a
    candidate that does is indistinguishable from a record anyway."""
    import re

    pos = from_pos
    while True:
        nxt = data.find(b"\r\nWARC/", pos)
        if nxt < 0:
            return -1
        cand = nxt + 2
        line_end = data.find(b"\r\n", cand)
        head_end = data.find(_CRLF2, cand)
        if (
            line_end > 0
            and re.fullmatch(rb"WARC/\d+\.\d+", data[cand:line_end])
            and head_end > 0
            and "warc-type" in _parse_headers(data[cand:head_end])
        ):
            return cand
        pos = nxt + 2


def _gunzip_members(data: bytes, stats: dict | None = None) -> bytes:
    """Decompress concatenated gzip members (per-record gzip WARCs).

    Real crawls contain the occasional truncated or corrupt member; a
    raised zlib.error here would fail the whole archive's Spark task
    (losing every good record).  Instead a corrupt member is counted in
    ``stats['corrupt_gzip_members']`` and decompression RESYNCS at the
    next gzip magic — members after the bad one are recovered, so one
    flipped bit no longer discards the rest of a ~1 GB archive."""
    out = []
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data[pos:]))
        except zlib.error:
            if stats is not None:
                stats["corrupt_gzip_members"] = (
                    stats.get("corrupt_gzip_members", 0) + 1)
            nxt = data.find(_GZ_MAGIC, pos + 1)
            if nxt < 0:
                break
            pos = nxt  # resync at the next member and keep going
            continue
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return b"".join(out)


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the WARC/1.x line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
    return headers


def _http_body(payload: bytes) -> bytes:
    """HTTP response payload -> body (headers stripped)."""
    cut = payload.find(_CRLF2)
    return payload[cut + 4:] if cut >= 0 else payload


def parse_warc_bytes(data: bytes, stats: dict | None = None) -> list:
    """WARC bytes (plain or per-record gzip) -> list of
    {url, warc_ts, html} dicts for response records.

    Malformed framing never silently discards the rest of the archive:
    a record with a missing/non-integer Content-Length is counted in
    ``stats['skipped_records']`` and parsing RESYNCS at the next
    ``\\r\\nWARC/`` marker; a payload running past end-of-data is counted
    in ``stats['truncated']`` (its bytes are kept).  Pass a dict as
    ``stats`` to observe data loss — at crawl scale silent loss is the
    failure mode that matters."""
    if stats is None:
        stats = {}
    stats.setdefault("skipped_records", 0)
    stats.setdefault("truncated", 0)
    stats.setdefault("corrupt_gzip_members", 0)
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data, stats)
    pages = []
    pos, n = 0, len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = data.find(_CRLF2, start)
        if head_end < 0:
            stats["truncated"] += 1  # header block cut mid-archive
            break
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # bad framing for THIS record only: resync at the next
            # VALIDATED record start instead of abandoning the whole
            # archive
            stats["skipped_records"] += 1
            nxt = _next_record_start(data, head_end)
            if nxt < 0:
                break
            pos = nxt
            continue
        if head_end + 4 + length > n:
            stats["truncated"] += 1  # payload cut short; keep what's there
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        if headers.get("warc-type") == "response" and "warc-target-uri" in headers:
            ts = None
            raw_ts = headers.get("warc-date", "")
            try:
                ts = _dt.datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
                ts = ts.replace(tzinfo=None)
            except ValueError:
                pass
            pages.append({
                "url": headers["warc-target-uri"],
                "warc_ts": ts,
                "html": _http_body(payload),
            })
    return pages


WARC_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary"


def pages_kernel(batches):
    """mapInPandas kernel: (path, content) archive batches -> page rows.
    Shared by the batch reader and the streaming ingest
    (streaming/ingest.stream_extract_warc)."""
    import sys

    import pandas as pd

    for pdf in batches:
        rows = []
        for fpath, content in zip(pdf["path"], pdf["content"]):
            stats: dict = {}
            rows.extend(parse_warc_bytes(bytes(content), stats))
            if any(stats.values()):  # loss is never silent
                print(f"WARN read_warc {fpath}: {stats}", file=sys.stderr)
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html"])


def read_warc(spark, path):
    """Archive glob -> DataFrame(url, warc_ts, html), ready for
    extract()/extract_fused()."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(pages_kernel, schema=WARC_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic writer (tests)
# ---------------------------------------------------------------------------

def synth_warc(pages) -> bytes:
    """pages: iterable of {url, warc_ts, html} -> WARC bytes.  A
    per-record gzip archive is the concatenation of each one-page
    archive's gzip member."""
    out = io.BytesIO()
    for p in pages:
        ts = p.get("warc_ts") or _dt.datetime(2024, 1, 1)
        body = p["html"] if isinstance(p["html"], bytes) else p["html"].encode()
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {p['url']}\r\n".encode()
            + f"WARC-Date: {ts.isoformat()}Z\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n"
        )
        out.write(head + http + b"\r\n\r\n")
    return out.getvalue()
