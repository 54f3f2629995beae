"""Host-level corpus operators: per-host statistics and host frequency
capping.

Web crawls are Zipf-skewed by host (tests/test_skew.py measures this on
the synthetic corpus too), and training-data pipelines run two
host-grain steps over them:

* :func:`host_stats` — per-host aggregates, computed with the two-phase
  salted aggregation (salt → partial agg per ``(host, salt)`` → final
  agg per host) so the head host of a Zipf corpus cannot pin its entire
  row set on one reducer.  Value-identical to a direct ``groupBy`` —
  the DuckDB oracle is the direct form.
* :func:`host_cap` — keep at most ``k`` pages per host (single-domain
  dominance control, as in the C4/ccnet recipes).  Deterministic: pages
  are ranked by url within the host.  One window shuffle on the host;
  ``row_number`` is a streaming pass over each sorted partition, so a
  mega-host costs a sort spill at worst, never a driver-side
  collection.

Both pure Catalyst.  Reference parity note: origami has no host grain;
these extend the engine for crawl-scale corpus curation (same family as
operators/clean.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["host_of", "host_stats", "host_cap", "host_quality_gate"]


def host_of(url_col) -> Column:
    """Lower-cased host part of a url (scheme required; empty string
    when the url does not parse).  An optional userinfo prefix
    (``user:pass@``) is skipped — otherwise ``https://x@big.com/`` would
    count as a distinct host, a trivially spoofable escape from
    frequency capping (ADVICE r3).  The userinfo match is GREEDY up to
    the LAST ``@`` of the authority (WHATWG: the host starts after the
    last ``@``), so ``https://a@@big.com/`` cannot mint a fresh host
    either; the class excludes ``/?#`` so an ``@`` later in the path or
    query can never be mistaken for userinfo."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.regexp_extract(
        c, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)", 1))


def host_stats(pages: DataFrame, salt: int = 8) -> DataFrame:
    """Pages / total and mean text chars per host, skew-safely.

    Output: ``host, n_pages, total_chars, mean_chars`` (mean rounded to
    4 decimals)."""
    t = pages.select(
        host_of("url").alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(salt)).alias("_salt"),
        F.length("text").cast("bigint").alias("chars"),
    )
    partial = t.groupBy("host", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("chars").alias("pchars"),
    )
    return partial.groupBy("host").agg(
        F.sum("pn").cast("bigint").alias("n_pages"),
        F.sum("pchars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum("pchars").cast("double") / F.sum("pn"), 4
        ).alias("mean_chars"),
    )


def host_cap(pages: DataFrame, k: int = 100) -> DataFrame:
    """Keep at most ``k`` pages per host (first ``k`` in url order —
    deterministic at any parallelism).  Returns the input columns plus
    ``host``.

    Two-level deterministic top-k (VERDICT r3 item 3): a single
    ``row_number over partitionBy(host)`` would sort a Zipf mega-host's
    entire row set on one task.  Phase 1 ranks within
    ``(host, url hash mod 32)`` — each sort partition holds at most
    ~host_rows/32 rows — and keeps ``k`` per salt; phase 2 ranks the
    <= 32*k survivors per host, so its partitions are tiny by
    construction.  A host's ``k`` url-smallest pages all survive phase 1
    (each is url-smallest within its own salt too), so the result is
    value-identical to the single-window form — which remains the
    DuckDB-oracle formulation."""
    w1 = Window.partitionBy("host", "_salt").orderBy(F.col("url"))
    w2 = Window.partitionBy("host").orderBy(F.col("url"))
    return (
        pages.withColumn("host", host_of("url"))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(32)))
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("_rk", F.row_number().over(w2))
        .filter(F.col("_rk") <= k)
        .drop("_salt", "_rk1", "_rk")
    )


def host_quality_gate(pages: DataFrame, num_col: str, den_col: str,
                      min_ratio: float,
                      broadcast_rejected: bool | None = None) -> DataFrame:
    """Domain-level quality curation (the RefinedWeb/FineWeb recipe:
    judge the DOMAIN, drop every page of a bad one): aggregate a
    per-page quality signal to host grain and keep only pages of hosts
    whose ratio ``sum(num) / sum(den)`` clears ``min_ratio``.

    The signal is a RATIO OF INTEGER SUMS by contract (e.g. stopword
    tokens / total tokens): integer aggregation is associative, so the
    salted two-phase aggregate here, a direct groupBy, and the DuckDB
    oracle produce the identical ratio bit-for-bit — a mean of doubles
    would drift with addition order and could flip the gate at the
    threshold.  A zero-``den`` host has no evidence and is KEPT (no
    opinion != rejected — the nb_keep/lm-gate convention).

    Plan shape: two bounded aggregates (the host_stats salted recipe,
    so a Zipf mega-host cannot pin one reducer) produce the
    host-grain table; the REJECTED host list joins back left-anti.
    The list is host-grain, not page-grain — usually far smaller than
    the corpus, but a strict threshold over a 10^8-host crawl can
    reject tens of millions of hosts, past driver-broadcast range —
    so the anti-join strategy is size-conditional
    (``broadcast_rejected``, VERDICT r4 item 3):

    * ``None`` (default) — no hint: AQE broadcasts the rejected list
      when its RUNTIME size fits and shuffles otherwise (one corpus
      exchange on ``host`` — acceptable; never a forced driver build).
    * ``True`` — force the broadcast hint (caller knows the rejection
      rate is tiny; the page side then never shuffles).
    * ``False`` — force a shuffled hash anti-join (the adversarial
      many-rejected-hosts path)."""
    t = pages.withColumn("host", host_of("url"))
    partial = t.groupBy(
        "host", F.pmod(F.xxhash64("url"), F.lit(8)).alias("_salt")
    ).agg(
        F.sum(F.col(num_col).cast("bigint")).alias("pn"),
        F.sum(F.col(den_col).cast("bigint")).alias("pd"),
    )
    ratios = partial.groupBy("host").agg(
        F.sum("pn").cast("bigint").alias("_n"),
        F.sum("pd").cast("bigint").alias("_d"),
    )
    rejected = ratios.filter(
        (F.col("_d") > 0)
        & (F.col("_n") / F.col("_d").cast("double") < F.lit(float(min_ratio)))
    ).select("host")
    if broadcast_rejected is True:
        rejected = F.broadcast(rejected)
    elif broadcast_rejected is False:
        rejected = rejected.hint("shuffle_hash")
    return t.join(rejected, "host", "left_anti")
