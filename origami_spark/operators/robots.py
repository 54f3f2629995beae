"""robots.txt parsing and URL gating (RFC 9309 / the Google spec).

Crawl-scale corpus pipelines must honor robots exclusions before a
page enters the corpus (Common Crawl's own crawler does; corpus
rebuilds re-check against fresher robots snapshots).  Two operators:

* :func:`parse_robots` — ``(host, content)`` robots.txt bodies ->
  the per-host rule table ``(host, allow, path, rule_len, pattern)``
  for ONE crawler user-agent, entirely in Catalyst: a line explode,
  a window-derived group id (consecutive ``User-agent`` lines stack
  onto one group, RFC 9309 §2.2.1), group selection with
  specific-agent precedence (if any group names our agent, ONLY those
  groups apply; else the ``*`` groups), and a pattern translation
  that turns the path spec's two metacharacters (``*`` wildcard,
  trailing ``$`` anchor) into an RE2-safe/Java-safe regex with
  everything else escaped literally.
* :func:`robots_gate` — urls x rules -> ``allowed`` verdict: among
  the host's rules whose pattern matches the url path, the LONGEST
  path spec wins and a tie goes to ``allow`` (RFC 9309 §2.2.2); a
  url with no matching rule (or no rules at all) is allowed.

Scale shape: the rule table is keyed by host — small lists per host,
but a real crawl has 10^7-10^8 hosts WITH robots bodies, so the folded
rule table itself is host-grain big.  The gate is one equality join on
the host, and the join strategy is size-conditional
(:func:`robots_gate` ``broadcast_rules``): by default no hint is
forced, so Catalyst's static size estimate plus AQE's runtime re-plan
broadcast the rule side exactly when it actually fits and fall back to
a shuffled join (ONE corpus exchange on ``host`` — acceptable)
otherwise; ``True``/``False`` force either strategy when the caller
knows the rule-table scale (e.g. from stage lineage).  Either way
per-url work is bounded by that host's rule count: a match filter and
one fold whose input is only the host's own rules.  The parse touches
each robots body once; bodies never shuffle, only their exploded
directive lines (bounded by line count).

Determinism/portability: rules are meant to be STAGED (a parquet
side table, like the IVF centroids) and consumed by both engines;
``pattern`` strings use only regex constructs Java and RE2 interpret
identically (escaped literals, ``.*``, ``^``/``$`` anchors on
newline-free url paths).

Reference parity note: origami has no crawl grain; this extends the
engine for crawl-scale curation (the urlfilter/hosts family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hosts import host_of

__all__ = ["parse_robots", "robots_gate", "robots_sitemaps", "url_path"]


def url_path(url_col) -> Column:
    """Path-and-query part a robots rule matches against: everything
    after the authority up to the fragment, with a query-only url
    (``https://h.com?q=1``) normalized to ``/?q=1`` (the RFC matches
    on path-begins-with-slash form) and no path at all to ``/``.
    Case-preserving (robots paths are case-sensitive, unlike hosts)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    rest = F.regexp_extract(
        c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?][^#]*)", 1)
    p = F.when(rest.startswith("?"),
               F.concat(F.lit("/"), rest)).otherwise(rest)
    return F.coalesce(F.nullif(p, F.lit("")), F.lit("/"))


def _strip(col) -> Column:
    """Edge-strip the RFC 9309 whitespace set (space AND tab — WS =
    %x20 / %x09) plus the CR of CRLF-transferred bodies.  ``F.trim``
    removes only 0x20, which silently dropped tab-delimited
    directives (review finding, round 4)."""
    return F.regexp_replace(col, "^[ \t\r]+|[ \t\r]+$", "")


def _pattern_expr(path_col) -> Column:
    """Path spec -> anchored regex identical under Java and RE2:
    a trailing ``$`` becomes an end anchor, every regex metacharacter
    except ``*`` is backslash-escaped, ``*`` becomes ``.*``."""
    anchored = path_col.endswith("$")
    body = F.regexp_replace(path_col, r"\$$", "")  # strip the anchor
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), wild,
                    F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def parse_robots(robots: DataFrame, agent: str) -> DataFrame:
    """robots.txt ``(host, content)`` rows -> rule rows for ``agent``.

    Output: ``host, allow (int 1/0), path (the raw spec), rule_len
    (its length — the RFC's specificity measure), pattern (the
    translated regex)``.  Directives outside any ``User-agent`` group
    and empty path specs (``Disallow:`` = allow everything) emit no
    rule; unknown directives are ignored.  Duplicate rules collapse.
    """
    agent_l = agent.lower()
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("content"), "\n")).alias("ln", "raw"),
    )
    cleaned = _strip(F.regexp_replace(F.col("raw"), "#.*", ""))
    d = lines.select(
        "host", "ln",
        F.lower(F.regexp_extract(cleaned, "^([A-Za-z-]+):", 1)).alias("key"),
        _strip(F.regexp_extract(cleaned, "^[A-Za-z-]+:(.*)$", 1)).alias("val"),
    ).filter(F.col("key").isin("user-agent", "allow", "disallow"))

    w = Window.partitionBy("host").orderBy("ln")
    is_ua = F.col("key") == "user-agent"
    new_grp = is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    d = d.withColumn(
        "grp",
        F.sum(new_grp.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )

    gm = (
        d.filter(is_ua)
        .groupBy("host", "grp")
        .agg(
            F.max((F.lower("val") == agent_l).cast("int")).alias("m_spec"),
            F.max((F.col("val") == "*").cast("int")).alias("m_star"),
        )
    )
    hm = gm.groupBy("host").agg(F.max("m_spec").alias("has_spec"))
    sel = (
        gm.join(hm, "host")
        .filter(((F.col("has_spec") == 1) & (F.col("m_spec") == 1))
                | ((F.col("has_spec") == 0) & (F.col("m_star") == 1)))
        .select("host", "grp")
    )
    rules = (
        d.filter((~is_ua) & (F.col("val") != "") & (F.col("grp") >= 1))
        .join(sel, ["host", "grp"])
        .select(
            "host",
            F.when(F.col("key") == "allow", 1).otherwise(0).alias("allow"),
            F.col("val").alias("path"),
        )
        .distinct()
    )
    return rules.select(
        "host", "allow", "path",
        F.length("path").cast("int").alias("rule_len"),
        _pattern_expr(F.col("path")).alias("pattern"),
    )


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """Sitemap discovery — the other thing crawl pipelines read out of
    robots.txt (the sitemaps.org protocol's ``Sitemap:`` records,
    which RFC 9309 treats as group-INDEPENDENT: they apply regardless
    of user-agent groups, so no group machinery is needed).  One row
    per distinct ``(host, sitemap)``; the value keeps its case (urls).
    Pure projection: line explode + key filter, zero joins."""
    lines = robots.select(
        "host",
        F.explode(F.split(F.col("content"), "\n")).alias("raw"),
    )
    cleaned = _strip(F.regexp_replace(F.col("raw"), "#.*", ""))
    key = F.lower(F.regexp_extract(cleaned, "^([A-Za-z-]+):", 1))
    val = _strip(F.regexp_extract(cleaned, "^[A-Za-z-]+:(.*)$", 1))
    return (
        lines.select("host", key.alias("_k"), val.alias("sitemap"))
        .filter((F.col("_k") == "sitemap") & (F.col("sitemap") != ""))
        .select("host", "sitemap")
        .distinct()
    )


def robots_gate(pages: DataFrame, rules: DataFrame,
                broadcast_rules: bool | None = None) -> DataFrame:
    """+ ``host``, ``allowed`` (boolean) per input row.

    Verdict: longest matching path spec wins, ``allow`` wins a
    specificity tie, no match (or unknown host) means allowed — the
    RFC 9309 §2.2.2 evaluation.

    Plan shape: the rule table folds to ONE array row per host
    (each row bounded — robots bodies are small — but the table is
    HOST-grain: 10^7-10^8 rows on a real crawl) and joins the page
    side on ``host``, which then evaluates its verdict per row with a
    filter + max-fold over the host's rule array.  There is no
    verdict re-join — the earlier matched-pairs formulation remains
    the relational/DuckDB oracle shape.  The fold is a pure maximum
    under the total ``(rule_len, allow)`` order, so the (unordered)
    collect_list cannot affect the result.

    ``broadcast_rules`` picks the join strategy (VERDICT r4 item 2 —
    an unconditional ``F.broadcast`` hint forces a driver-side build
    of the whole rule table regardless of size, an OOM rather than a
    graceful fallback at crawl scale):

    * ``None`` (default) — no hint: Catalyst's static size estimate
      and AQE's runtime re-plan broadcast the folded rule side when
      it actually fits (``spark.sql.autoBroadcastJoinThreshold``) and
      use a shuffled join otherwise.  The graceful path when the rule
      table's scale is unknown.
    * ``True`` — force the broadcast hint (the caller KNOWS the rule
      set is small, e.g. a curated allowlist crawl).
    * ``False`` — force a shuffled hash join: one corpus exchange on
      ``host``, never a driver-side build (the 10^8-host path).
    """
    per_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("rule_len", "allow", "pattern"))
        .alias("_rules"))
    if broadcast_rules is True:
        per_host = F.broadcast(per_host)
    elif broadcast_rules is False:
        per_host = per_host.hint("shuffle_hash")
    p = (
        pages.withColumn("host", host_of("url"))
        .withColumn("_path", url_path("url"))
        .join(per_host, "host", "left")
    )
    best = F.expr("""
        aggregate(
          filter(_rules, r -> _path rlike r.pattern),
          named_struct('len', -1, 'allow', 1),
          (acc, r) -> IF(r.rule_len > acc.len
                         OR (r.rule_len = acc.len AND r.allow > acc.allow),
                         named_struct('len', r.rule_len, 'allow', r.allow),
                         acc))
    """)
    return (
        p.withColumn("allowed",
                     F.coalesce(best.getField("allow") == 1, F.lit(True)))
        .drop("_rules", "_path")
    )
