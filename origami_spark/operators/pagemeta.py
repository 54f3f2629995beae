"""Page-level head-metadata harvest from raw HTML.

Corpus pipelines want a cheap per-page metadata row long before full
extraction runs: the ``<title>`` for retrieval/display corpora, the
declared charset for decode routing, the lead ``<h1>`` as a headline
candidate, and (when present) the meta description and canonical url
for dedup keying.  ``html_head_meta`` pulls all of these in ONE
Catalyst regexp projection over the scan — no UDF, no kernel, no
shuffle; html bytes never leave their partition.

Contract notes (shared with the DuckDB oracle in
``gates/web.py``): all patterns are RE2-safe with explicit
whitespace classes (the ``bpe_pretokens`` precedent — bare ``\\s``
differs between Java and RE2); inner-text captures are ``[^<]*``, so
an element whose content contains nested markup does not match and
its value is NULL (a full nested parse belongs to the html tokenizer,
which the extraction pipeline applies downstream); tag/attribute
matching is case-insensitive (``(?i)``, identical in Java and RE2)
while captured values keep their case;
values are whitespace-normalized and empty strings become NULL in
both engines (Spark and DuckDB disagree on no-match results, NULLIF
unifies them).

Reference parity: origami reads page-level metadata from artifact
sidecars (``runtime.json``/``meta.json``, batch/core/io.py); the web
analog of "cheap per-page facts before heavy processing" is exactly
this head harvest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["html_head_meta"]

_WS = "[ \t\n\r\f]"


def _norm(col):
    """Whitespace-normalize, trim, and NULL out empties — applied to
    every captured value so '' (no match / empty element) and
    whitespace-only content converge to NULL in both engines."""
    return F.nullif(
        F.trim(F.regexp_replace(col, f"{_WS}+", " ")), F.lit(""))


def html_head_meta(pages: DataFrame) -> DataFrame:
    """One row per page: ``url, title, charset, h1, description,
    canonical`` (all nullable strings).

    * ``title`` — first ``<title>`` element's pre-tag text.
    * ``charset`` — ``<meta charset=...>`` value, lower-cased (HTML5
      charset names are ASCII case-insensitive); quoted or bare.
    * ``h1`` — first ``<h1>`` element's pre-tag text (attributes
      allowed on the tag).
    * ``description`` — ``<meta name="description" content="...">``.
    * ``canonical`` — ``<link rel="canonical" href="...">``.
    """
    # (?i): HTML tag/attribute names are case-insensitive (<TITLE>,
    # <META CHARSET=...> are legal); captured VALUES keep their case
    h = F.col("html").cast("string")
    title = F.regexp_extract(h, r"(?i)<title>([^<]*)</title>", 1)
    charset = F.regexp_extract(
        h, f'(?i)<meta{_WS}[^>]*charset="?([A-Za-z0-9_-]+)"?', 1)
    h1 = F.regexp_extract(h, r"(?i)<h1[^>]*>([^<]*)</h1>", 1)
    desc = F.regexp_extract(
        h,
        f'(?i)<meta{_WS}[^>]*name="description"[^>]*content="([^"]*)"',
        1,
    )
    canonical = F.regexp_extract(
        h, f'(?i)<link{_WS}[^>]*rel="canonical"[^>]*href="([^"]*)"', 1)
    return pages.select(
        "url",
        _norm(title).alias("title"),
        F.lower(_norm(charset)).alias("charset"),
        _norm(h1).alias("h1"),
        _norm(desc).alias("description"),
        _norm(canonical).alias("canonical"),
    )
