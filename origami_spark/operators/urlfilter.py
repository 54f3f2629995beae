"""URL blocklist filtering: domain-suffix and URL-term rules.

Every serious corpus pipeline gates crawled pages on a URL blocklist
before any content-level step (the C4 "bad words" URL rule, ccnet /
RefinedWeb's banned-domain lists, the UT1 adult/malware categories):
it is the cheapest filter in the whole chain — no text is read — so it
runs first and at full crawl scale.

Two rule kinds, matching blocklist practice:

* **domain rules** — an entry blocks the exact host AND every
  subdomain of it (``tracker.net`` blocks ``a.b.tracker.net``).
  Matching is an EQUALITY join: each page's host explodes into its
  suffix chain (``a.b.tracker.net`` → ``[a.b.tracker.net,
  b.tracker.net, tracker.net]`` — bounded by the label count, ~5 for
  real hosts), which joins the broadcast domain list.  A 10^6-entry
  blocklist is a few tens of MB — comfortably broadcast; the corpus
  side never shuffles for this match.
* **term rules** — an entry blocks any url containing the term
  (case-insensitive).  Term lists are small (dozens to hundreds), so
  the match is a broadcast nested-loop join with a ``contains``
  predicate; cost is |pages| x |terms| JVM-side predicate evaluations,
  linear in the corpus for a fixed list.  This is the documented
  bound — a 10^5-term list belongs in the domain form, not here.

Only matched rows shuffle (the per-doc min-reason aggregation), and
the aggregated reason set joins BACK broadcast, so no step ever
hash-exchanges the corpus side — the data moved is proportional to
the BLOCKED set, not the corpus (plan-asserted).  The plan does scan
``pages`` three times (two match branches + the final label join);
each scan is column-pruned to ``(doc_id, url)``, and crawl-scale
callers should pass an already-projected (or cached) frame.  Pure
Catalyst; deterministic: when several rules match, the
lexicographically smallest reason string wins.

Reference parity note: origami has no URL grain; this extends the
engine for crawl-scale curation (same family as operators/hosts.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hosts import host_of

__all__ = ["domain_suffixes", "url_blocklist"]


def domain_suffixes(host_col) -> Column:
    """Array of the host's dot-suffixes, longest first:
    ``a.b.c`` → ``[a.b.c, b.c, c]``; empty host → empty array.
    (``sequence(1, 0)`` would count DOWN in Spark, so the empty host is
    guarded explicitly.)"""
    c = F.col(host_col) if isinstance(host_col, str) else host_col
    parts = F.split(c, "\\.")
    n = F.size(parts)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )
    return F.when(c == "", F.array().cast("array<string>")) \
        .otherwise(suffixes)


def url_blocklist(pages: DataFrame, domains: DataFrame,
                  terms: DataFrame) -> DataFrame:
    """Label every page against a URL blocklist.

    ``pages`` needs ``doc_id`` and ``url``; ``domains`` one
    ``domain`` column (blocks the host and all subdomains); ``terms``
    one ``term`` column (blocks urls containing it, case-insensitive).
    Rule lists are canonicalized defensively: lower-cased (hosts are
    already lower-case, so a mixed-case entry would otherwise silently
    never match) and empty entries dropped (``contains(url, '')`` is
    true for EVERY url, so one blank line in a blocklist file would
    block the whole corpus).  Output: ``doc_id, url, host, blocked,
    reason`` — reason is ``'domain:<d>'`` / ``'term:<t>'`` (the
    lexicographic min when several rules hit), NULL on clean rows.
    Keep = ``filter(~blocked)`` downstream; the labeled form is kept so
    reject reasons can be audited, as in operators/clean.gopher_gate."""
    base = pages.select(
        "doc_id", "url",
        host_of("url").alias("host"))
    # no .distinct() on the rule lists: duplicate entries only produce
    # duplicate match rows, which the min-reason groupBy collapses —
    # and a distinct here would add a rule-list shuffle to the plan
    dom = (domains.select(F.lower("domain").alias("domain"))
           .filter(F.length("domain") > 0))
    trm = (terms.select(F.lower("term").alias("term"))
           .filter(F.length("term") > 0))
    dmatch = (
        base.select("doc_id",
                    F.explode(domain_suffixes("host")).alias("domain"))
        .join(F.broadcast(dom), "domain")
        .select("doc_id",
                F.concat(F.lit("domain:"), "domain").alias("reason"))
    )
    tmatch = (
        base.join(F.broadcast(trm),
                  F.contains(F.lower(F.col("url")), F.col("term")))
        .select("doc_id", F.concat(F.lit("term:"), "term").alias("reason"))
    )
    reasons = (
        dmatch.unionByName(tmatch)
        .groupBy("doc_id").agg(F.min("reason").alias("reason"))
    )
    # the blocked set is small by assumption — broadcast it back so the
    # corpus side is never hash-exchanged for the label join
    return (
        base.join(F.broadcast(reasons), "doc_id", "left")
        .select("doc_id", "url", "host",
                F.col("reason").isNotNull().alias("blocked"), "reason")
    )
