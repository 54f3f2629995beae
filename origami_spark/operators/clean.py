"""Corpus-cleaning operators: repetition signals, line filtering, PII
scrubbing.

The three operators every large-scale webtext training pipeline runs
after extraction and before dedup (all public-knowledge recipes):

* :func:`repetition_stats` — per-document repetition signals in the
  style of the Gopher quality rules (Rae et al. 2021, public):
  duplicate-line fraction, duplicate-line character fraction, the most
  frequent word 2-gram's character share, and the duplicate 5-gram
  fraction.
* :func:`clean_lines` — C4-style line filtering (Raffel et al. 2020,
  public): keep lines that end in terminal punctuation, have at least
  three words, and don't mention "javascript"; drop whole pages
  containing "lorem ipsum" or a curly brace.
* :func:`pii_scrub` — masks e-mail addresses, IPv4 literals and long
  digit runs with typed placeholders, returning per-kind match counts.

All three are pure Catalyst (whole-stage codegen, no Python in the hot
path) and embarrassingly parallel: one row in, one row out, no shuffle,
so they scale linearly with input splits at any corpus size.  Each has
a value-identical DuckDB oracle in ``gates/text.py``.

Per-document folds (duplicate-character counting, most-frequent-gram)
run over *sorted* per-row arrays with ``aggregate`` struct accumulators
— O(n log n) per document, no explode, no per-doc shuffle.  The oracle
computes the same quantities relationally (unnest + group by), which
double-checks the fold against an independent formulation rather than a
mirror of the same code shape.

Reference parity note: origami has no corpus-cleaning stage; these
extend the engine beyond the reference for LLM-data pipelines (same
family as operators/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import shingles_expr, tokens_col

__all__ = ["repetition_stats", "clean_lines", "pii_scrub", "gopher_gate"]

def _zero():
    """Fresh bigint-0 literal (Columns need an active SparkContext,
    so no module-level Column constants)."""
    return F.lit(0).cast("bigint")

# PII patterns — ASCII-only classes so Java regex (Spark) and RE2
# (DuckDB) agree; no lookaround, no backreferences.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
LONGNUM_RE = r"\b\d{9,}\b"


def _lines_expr() -> Column:
    """Non-empty trimmed lines of ``text`` (order preserved)."""
    # Full-whitespace trim (regexp, not F.trim — Spark/DuckDB trim()
    # strips 0x20 only, so a tab-only line would survive as "content").
    # The class is ENUMERATED, never \s: Java's \s includes \x0b while
    # RE2's does not, and Java's $ matches before a trailing \u2028
    # while RE2's does not — so the portable form is an explicit class
    # anchored with \A/\z (absolute ends in both engines).  \xa0 (NBSP,
    # ubiquitous in webtext) included.  Mirrored verbatim in every
    # oracle that builds lines.
    strip = lambda x: F.regexp_replace(  # noqa: E731
        x, r"\A[ \t\n\r\f\x0b\xa0]+|[ \t\n\r\f\x0b\xa0]+\z", "")
    return F.filter(
        F.transform(F.split(F.col("text"), "\n"), strip),
        lambda x: x != "",
    )


def _dup_chars_fold(sorted_lines: Column) -> Column:
    """Characters in line occurrences beyond each line's first, via a
    single O(n) fold over the sorted array (equal lines are adjacent
    after sorting; the accumulator carries the previous element)."""
    zero = F.struct(F.lit("").alias("prev"), _zero().alias("dup"))
    return F.aggregate(
        sorted_lines,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["dup"]
                + F.when(x == acc["prev"], F.length(x).cast("bigint")).otherwise(_zero())
            ).alias("dup"),
        ),
        lambda acc: acc["dup"],
    )


def _top_gram_fold(sorted_grams: Column) -> Column:
    """(count, gram) of the most frequent element: run-length fold over
    the sorted array.  The strictly-greater update makes the tie-break
    deterministic — among equally frequent grams the lexicographically
    smallest (first in sorted order) wins."""
    zero = F.struct(
        F.lit("").alias("prev"),
        _zero().alias("run"),
        _zero().alias("best"),
        F.lit("").alias("best_gram"),
    )
    return F.aggregate(
        sorted_grams,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
                > acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")),
            ).otherwise(acc["best"]).alias("best"),
            F.when(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
                > acc["best"],
                x,
            ).otherwise(acc["best_gram"]).alias("best_gram"),
        ),
        lambda acc: F.struct(acc["best"].alias("best"), acc["best_gram"].alias("best_gram")),
    )


def _repetition_features(docs: DataFrame) -> DataFrame:
    """Shared raw-feature projection behind :func:`repetition_stats`
    and :func:`gopher_gate`: per doc — ``chars``, ``toks``, line counts
    and duplicate-line characters, the top-2-gram fold, and 5-gram
    counts.  One narrow map; downstream selects prune what they don't
    use."""
    t = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("chars"),
        _lines_expr().alias("lines"),
        tokens_col("text").alias("toks"),
    )
    return t.select(
        "doc_id",
        "chars",
        "toks",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size(F.array_distinct("lines")).cast("bigint").alias("n_distinct_lines"),
        F.aggregate(
            "lines", _zero(), lambda acc, x: acc + F.length(x).cast("bigint")
        ).alias("line_chars"),
        _dup_chars_fold(F.array_sort("lines")).alias("dup_chars"),
        _top_gram_fold(F.array_sort(shingles_expr("toks", 2))).alias("top2"),
        F.size(shingles_expr("toks", 5)).cast("bigint").alias("n_5grams"),
        F.size(F.array_distinct(shingles_expr("toks", 5))).cast("bigint").alias("n_distinct_5grams"),
    )


def _one_bigint():
    return F.lit(1).cast("bigint")


def _repetition_ratios() -> list:
    """Rounded ratio columns over a `_repetition_features` frame —
    shared verbatim by repetition_stats and gopher_gate so the two can
    never drift."""
    one = _one_bigint()
    return [
        F.round(
            (F.col("n_lines") - F.col("n_distinct_lines")).cast("double")
            / F.greatest("n_lines", one),
            4,
        ).alias("dup_line_frac"),
        F.round(
            F.col("dup_chars").cast("double") / F.greatest("line_chars", one), 4
        ).alias("dup_line_char_frac"),
        F.round(
            (F.col("top2")["best"] * F.length(F.col("top2")["best_gram"])).cast("double")
            / F.greatest("chars", one),
            4,
        ).alias("top_2gram_frac"),
        F.round(
            (F.col("n_5grams") - F.col("n_distinct_5grams")).cast("double")
            / F.greatest("n_5grams", one),
            4,
        ).alias("dup_5gram_frac"),
    ]


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document.

    Output columns (all ratios rounded to 4 decimals):

    * ``n_lines`` — non-empty trimmed lines
    * ``dup_line_frac`` — line occurrences beyond each distinct line's
      first, over total lines
    * ``dup_line_char_frac`` — characters in those surplus occurrences,
      over total line characters
    * ``top_2gram`` / ``top_2gram_frac`` — the most frequent word
      2-gram (ties: lexicographically smallest) and the share of the
      document's characters its occurrences cover (count × gram length
      / text length)
    * ``dup_5gram_frac`` — word 5-grams occurring more than once, as
      surplus occurrences over total 5-grams
    """
    t = _repetition_features(docs)
    ratios = _repetition_ratios()
    return t.select(
        "doc_id",
        "n_lines",
        ratios[0],
        ratios[1],
        F.col("top2")["best_gram"].alias("top_2gram"),
        ratios[2],
        ratios[3],
    )


def clean_lines(docs: DataFrame) -> DataFrame:
    """C4-style line filter (Raffel et al. 2020).

    A line is kept when it ends in terminal punctuation (``. ! ? "``),
    has at least 3 tokens, and does not contain
    "javascript" (case-insensitive).  A page is dropped wholesale
    (``page_ok`` false, ``clean_text`` empty, zero kept) when it
    contains "lorem ipsum" or ``{``.

    Output: ``doc_id, page_ok, n_kept, n_dropped, clean_text``.
    """
    keep = lambda x: (  # noqa: E731 — inline predicate shared below
        x.rlike('[.!?"]$')
        & (F.size(F.filter(F.split(F.lower(x), "[^a-z0-9]+"), lambda w: w != "")) >= 3)
        & ~F.contains(F.lower(x), F.lit("javascript"))
    )
    t = docs.select(
        "doc_id",
        _lines_expr().alias("lines"),
        (
            ~F.contains(F.lower("text"), F.lit("lorem ipsum"))
            & ~F.contains(F.col("text"), F.lit("{"))
        ).alias("page_ok"),
    )
    t = t.select(
        "doc_id",
        "page_ok",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.when(F.col("page_ok"), F.filter("lines", keep))
        .otherwise(F.array().cast("array<string>"))
        .alias("kept"),
    )
    return t.select(
        "doc_id",
        "page_ok",
        F.size("kept").cast("bigint").alias("n_kept"),
        (F.col("n_lines") - F.size("kept").cast("bigint")).alias("n_dropped"),
        F.concat_ws("\n", "kept").alias("clean_text"),
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Mask e-mails, IPv4 literals and 9+-digit runs with typed
    placeholders; count matches of each kind before replacing.

    Replacement order matters and is fixed (email → ipv4 → longnum) so
    an IPv4's octets are never re-counted as digit runs.  Counts are
    taken per-pattern on the *original* text.
    """
    c = F.col("text")
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("bigint")
    n_ips = F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), 0)).cast("bigint")
    n_longnums = F.size(F.regexp_extract_all(c, F.lit(LONGNUM_RE), 0)).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        LONGNUM_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_longnums.alias("n_longnums"),
        scrubbed.alias("scrubbed"),
    )


def gopher_gate(
    docs: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_2gram_frac: float = 0.20,
    max_dup_5gram_frac: float = 0.30,
) -> DataFrame:
    """Composite Gopher-style document gate (Rae et al. 2021 rules,
    public): token-count window, mean-token-length window [3, 10], minimum
    distinct-stopword hits, and the repetition ceilings.

    One narrow projection per document — all features come from the
    same sorted-array folds as :func:`repetition_stats`, so there is no
    join and no shuffle; the gate is a pure map at any corpus size.

    Output: ``doc_id, n_tokens, keep, reasons`` where ``reasons`` is a
    comma-joined, fixed-order list of every rule the doc violates
    (empty when kept).  Ratios are rounded to 4 decimals *before*
    comparison on both engines (oracle-portability rule: filter on the
    rounded value).
    """
    from .text import STOPWORDS

    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    t = _repetition_features(docs)
    one = _one_bigint()
    t = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.round(
            F.aggregate("toks", _zero(), lambda acc, x: acc + F.length(x))
            .cast("double")
            / F.greatest(F.size("toks").cast("bigint"), one),
            4,
        ).alias("mean_len"),
        F.size(F.array_intersect(F.array_distinct("toks"), stop_arr))
        .cast("bigint")
        .alias("stop_hits"),
        *_repetition_ratios(),
    )
    rules = [
        (F.col("n_tokens") < min_tokens, "too_few_tokens"),
        (F.col("n_tokens") > max_tokens, "too_many_tokens"),
        (F.col("mean_len") < 3.0, "mean_len_low"),
        (F.col("mean_len") > 10.0, "mean_len_high"),
        (F.col("stop_hits") < min_stop_hits, "too_few_stopwords"),
        (F.col("dup_line_frac") > max_dup_line_frac, "dup_lines"),
        (F.col("dup_line_char_frac") > max_dup_line_char_frac, "dup_line_chars"),
        (F.col("top_2gram_frac") > max_top_2gram_frac, "top_2gram"),
        (F.col("dup_5gram_frac") > max_dup_5gram_frac, "dup_5grams"),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for cond, name in rules]),
        lambda x: x.isNotNull(),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("reasons"),
    )
