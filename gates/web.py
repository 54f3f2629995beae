"""Web-crawl gates: hosts, URL blocklists, robots.txt, HTML metadata."""

import os

from pyspark.sql import functions as F

from origami_spark.operators import text as T

from gates import _STAGE_DIR, _t, gate, stage
from gates.extract import _pages_from_documents

HTML_PAGES_PATH = os.path.join(_STAGE_DIR, "html_pages.parquet")
ROBOTS_RULES_PATH = os.path.join(_STAGE_DIR, "robots_rules.parquet")


# synthetic per-host robots.txt (same body per host — the corpus urls
# are /{lang}/a{doc_id}, so these rules bite on every shape: prefix
# block with a longer-allow override, a $-anchored wildcard, a whole
# language subtree, a specific-agent group shadowing the star group,
# stacked user-agent lines, a comment, an empty Disallow)
_ROBOTS_TXT = """\
# synthetic robots for the gate
Sitemap: https://cdn.example.net/smap/root.xml

User-agent: googlebot
Disallow: /
Sitemap: https://cdn.example.net/smap/extra.xml

User-agent: origami

User-agent: friendbot
Disallow: /en/a1
Allow: /en/a12*
Disallow: /de/a*3$
Disallow: /fr
Disallow:

User-agent: *
Disallow: /es
"""


ROBOTS_BODIES_PATH = os.path.join(_STAGE_DIR, "robots_bodies.parquet")


def _skewed_url_docs(spark, sf):
    """Documents with synthesized Zipf-ish skewed urls: two thirds of
    the corpus lands on one mega-host, the rest spreads over 20 small
    hosts — mirrored verbatim in the host_* oracles."""
    docs = _t(spark, sf, "documents")
    host = F.when(
        F.col("doc_id") % 3 != 0, F.lit("big.example.com")
    ).otherwise(
        F.concat(F.lit("site"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".example.com"))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"),
                   F.col("doc_id").cast("string"))
    return docs.select("doc_id", url.alias("url"), "text")


@gate("""
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 <> 0 THEN 'big.example.com'
                          ELSE 'site' || CAST(doc_id % 20 AS VARCHAR)
                               || '.example.com' END AS host,
                     length(text) AS chars
              FROM documents)
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(chars) AS BIGINT) AS total_chars,
                   round(sum(chars) * 1.0 / count(*), 4) AS mean_chars
            FROM u GROUP BY host""")
def host_stats(spark, sf):
    """Skew-safe per-host aggregation (operators/hosts.py): salted
    two-phase groupBy; the oracle is the direct GROUP BY, proving value
    identity."""
    from origami_spark.operators.hosts import host_stats as hs

    return hs(_skewed_url_docs(spark, sf), salt=8)


@gate("""
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 <> 0 THEN 'big.example.com'
                          ELSE 'site' || CAST(doc_id % 20 AS VARCHAR)
                               || '.example.com' END AS host
              FROM documents),
            v AS (
              SELECT doc_id, host,
                     'https://' || host || '/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM u),
            r AS (
              SELECT doc_id, url, host,
                     row_number() OVER (PARTITION BY host ORDER BY url) AS rk
              FROM v)
            SELECT doc_id, url, host FROM r WHERE rk <= 5""")
def host_cap(spark, sf):
    """Host frequency capping (operators/hosts.py): at most 5 pages
    per host in deterministic url order."""
    from origami_spark.operators.hosts import host_cap as hc

    return hc(_skewed_url_docs(spark, sf), k=5).select(
        "doc_id", "url", "host")


# domain-level quality gate: same url synthesis; the host ratio
# is integer-sum / integer-sum, so the direct GROUP BY here
# equals the engine's salted two-phase form exactly
@gate("""
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 <> 0 THEN 'big.example.com'
                          ELSE 'site' || CAST(doc_id % 20 AS VARCHAR)
                               || '.example.com' END AS host,
                     len(list_filter(
                       list_filter(regexp_split_to_array(lower(text),
                                                         '[^a-z0-9]+'),
                                   x -> x <> ''),
                       x -> list_contains(['the','a','of','and','to',
                                           'in','is','on','for','it'], x)
                     )) AS stops,
                     len(list_filter(regexp_split_to_array(lower(text),
                                                           '[^a-z0-9]+'),
                                     x -> x <> '')) AS toks
              FROM documents),
            h AS (SELECT host, CAST(sum(stops) AS BIGINT) AS n,
                         CAST(sum(toks) AS BIGINT) AS d
                  FROM u GROUP BY host),
            rej AS (SELECT host FROM h WHERE d > 0 AND n * 1.0 / d < 0.04)
            SELECT u.doc_id,
                   'https://' || u.host || '/p/'
                     || CAST(u.doc_id AS VARCHAR) AS url,
                   u.host
            FROM u
            WHERE u.host NOT IN (SELECT host FROM rej)""")
def host_quality(spark, sf):
    """Domain-level quality curation (operators/hosts.host_quality_gate,
    the RefinedWeb/FineWeb recipe): per-host stopword ratio as a ratio
    of INTEGER sums (associative — salted two-phase == direct groupBy
    == oracle, bit-for-bit), hosts under 0.04 drop with every page;
    rejected hosts join back broadcast left-anti so the page side never
    shuffles.  Measured ratios cluster well clear of the threshold at
    both gate SFs (nearest: 0.030 below / 0.045 above)."""
    from origami_spark.operators.hosts import host_quality_gate

    docs = _skewed_url_docs(spark, sf)
    sig = docs.select(
        "doc_id", "url",
        T.stop_count(T.tokens_col()).alias("stops"),
        F.size(T.tokens_col()).alias("toks"),
    )
    # known-tiny gate corpus -> explicit broadcast; at crawl scale
    # callers leave broadcast_rejected=None (AQE sizes it at runtime)
    return host_quality_gate(
        sig, "stops", "toks", 0.04, broadcast_rejected=True
    ).select("doc_id", "url", "host")


# url blocklist: same url synthesis, suffix chain unrolled via
# generate_series, reasons resolved to the lexicographic min
@gate("""
            WITH u AS (
              SELECT doc_id,
                     'w' || CAST(doc_id % 11 AS VARCHAR) || '.' ||
                     CASE WHEN doc_id % 4 = 0 THEN 'tracker.net'
                          ELSE 'example.org' END AS host,
                     CASE WHEN doc_id % 9 = 0 THEN '/casino-night'
                          ELSE '/p' END AS tail
              FROM documents),
            p AS (
              SELECT doc_id, host,
                     'https://' || host || tail || '/'
                     || CAST(doc_id AS VARCHAR) AS url
              FROM u),
            dom(domain) AS (VALUES ('tracker.net'), ('w3.example.org')),
            trm(term) AS (VALUES ('casino')),
            parts AS (SELECT doc_id, string_split(host, '.') AS pa FROM p),
            suf AS (
              SELECT doc_id, unnest(generate_series(1, len(pa))) AS s, pa
              FROM parts),
            dmatch AS (
              SELECT f.doc_id, 'domain:' || d.domain AS reason
              FROM (SELECT doc_id, array_to_string(pa[s:], '.') AS domain
                    FROM suf) f
              JOIN dom d USING (domain)),
            tmatch AS (
              SELECT p.doc_id, 'term:' || t.term AS reason
              FROM p JOIN trm t ON contains(lower(p.url), t.term)),
            reasons AS (
              SELECT doc_id, min(reason) AS reason
              FROM (SELECT * FROM dmatch UNION ALL SELECT * FROM tmatch)
              GROUP BY doc_id)
            SELECT p.doc_id, p.url, p.host,
                   r.reason IS NOT NULL AS blocked, r.reason
            FROM p LEFT JOIN reasons r USING (doc_id)""")
def url_blocklist(spark, sf):
    """URL blocklist gate (operators/urlfilter.py): domain rules block
    a host and every subdomain via a suffix-chain equality join against
    the broadcast domain list; term rules block urls containing the
    term (case-insensitive) via a broadcast nested-loop join.  Urls are
    synthesized deterministically: doc_id % 4 == 0 lands on a
    tracker.net subdomain (domain rule), doc_id % 11 == 3 on the exact
    host w3.example.org (exact-entry rule), doc_id % 9 == 0 carries
    'casino' in the path (term rule); overlaps resolve to the
    lexicographic min reason.  The oracle mirrors the synthesis and
    unrolls the suffix chain with generate_series."""
    from origami_spark.operators.urlfilter import url_blocklist as ub

    docs = _t(spark, sf, "documents")
    host = F.concat(
        F.lit("w"), (F.col("doc_id") % 11).cast("string"), F.lit("."),
        F.when(F.col("doc_id") % 4 == 0, F.lit("tracker.net"))
        .otherwise(F.lit("example.org")))
    tail = F.when(F.col("doc_id") % 9 == 0, F.lit("/casino-night")) \
        .otherwise(F.lit("/p"))
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, tail, F.lit("/"),
                 F.col("doc_id").cast("string")).alias("url"))
    dom = spark.createDataFrame(
        [("tracker.net",), ("w3.example.org",)], "domain string")
    trm = spark.createDataFrame([("casino",)], "term string")
    return ub(pages, dom, trm)


def _stage_html_pages(spark, sf):
    """Stage the deterministic corpus pages (url, html decoded to
    string) once per sf, so the html-link-graph oracles can run the
    identical regexp extraction over the identical bytes."""
    def build():
        return _pages_from_documents(spark, sf).select(
            "url", F.col("html").cast("string").alias("html"))

    # NOT spread here: robots_allowed's gate contract keeps the page
    # side un-hash-partitioned (test_robots); the regexp-heavy link/
    # anchor consumers spread at their own call sites
    return stage(spark, HTML_PAGES_PATH, sf, build)


def _stage_robots_bodies(spark, sf):
    """One synthetic robots.txt body per corpus host, staged — the raw
    side both the rule parse and the sitemap harvest read."""
    from origami_spark.operators.hosts import host_of

    def build():
        hosts = (_stage_html_pages(spark, sf)
                 .select(host_of("url").alias("host")).distinct())
        return hosts.withColumn("content", F.lit(_ROBOTS_TXT)).coalesce(1)

    return stage(spark, ROBOTS_BODIES_PATH, sf, build)


def _stage_robots_rules(spark, sf):
    """Parse the staged robots bodies once per sf and stage the rule
    table (host, allow, path, rule_len, pattern) — the trained-
    artifact discipline: both engines consume the identical staged
    parquet, so the regex strings can never drift between them.  The
    parse itself is pytest-gated against an independent pure-Python
    RFC 9309 reference (tests/test_robots.py)."""
    from origami_spark.operators.robots import parse_robots

    def build():
        robots = _stage_robots_bodies(spark, sf)
        return parse_robots(robots, agent="origami").coalesce(1)

    return stage(spark, ROBOTS_RULES_PATH, sf, build)


# the same strip set as the engine's _strip ([ \t\r] edges);
# comment strip first, then key/value split at the FIRST colon
@gate(f"""
            WITH b AS (
              SELECT host, unnest(string_split(content, chr(10))) AS raw
              FROM '{ROBOTS_BODIES_PATH}/*.parquet'),
            c AS (
              SELECT host,
                     regexp_replace(regexp_replace(raw, '#.*', ''),
                       '^[ \t\r]+|[ \t\r]+$', '', 'g') AS line
              FROM b)
            SELECT DISTINCT host,
                   regexp_replace(
                     regexp_extract(line, '^[A-Za-z-]+:(.*)$', 1),
                     '^[ \t\r]+|[ \t\r]+$', '', 'g') AS sitemap
            FROM c
            WHERE lower(regexp_extract(line, '^([A-Za-z-]+):', 1))
                    = 'sitemap'
              AND regexp_replace(
                    regexp_extract(line, '^[A-Za-z-]+:(.*)$', 1),
                    '^[ \t\r]+|[ \t\r]+$', '', 'g') <> ''""")
def robots_sitemap_urls(spark, sf):
    """Sitemap discovery (operators/robots.robots_sitemaps): the
    group-independent ``Sitemap:`` records of every host's robots.txt
    — one projection over the staged bodies; the oracle runs the
    identical line parse in SQL."""
    from origami_spark.operators.robots import robots_sitemaps

    return robots_sitemaps(_stage_robots_bodies(spark, sf))


# the rules are the STAGED parse output (both engines read the
# identical parquet); the verdict is the RFC 9309 evaluation:
# longest matching spec, allow wins ties, no match -> allowed
@gate(f"""
            WITH p AS (
              SELECT url FROM '{HTML_PAGES_PATH}/*.parquet'),
            u AS (
              SELECT url,
                     lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)',
                       1)) AS host,
                     coalesce(nullif(CASE WHEN rest LIKE '?%'
                                          THEN '/' || rest
                                          ELSE rest END, ''), '/') AS path
              FROM (
                SELECT url,
                       regexp_extract(url,
                         '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?][^#]*)',
                         1) AS rest
                FROM p)),
            m AS (
              SELECT u.url, r.allow,
                     row_number() OVER (
                       PARTITION BY u.url
                       ORDER BY r.rule_len DESC, r.allow DESC) AS rk
              FROM u
              JOIN '{ROBOTS_RULES_PATH}/*.parquet' r ON u.host = r.host
              WHERE regexp_matches(u.path, r.pattern)),
            v AS (SELECT url, allow FROM m WHERE rk = 1)
            SELECT u.url, u.host,
                   coalesce(v.allow = 1, TRUE) AS allowed
            FROM u LEFT JOIN v USING (url)""")
def robots_allowed(spark, sf):
    """robots.txt gating (operators/robots.py, RFC 9309): per url the
    longest matching path spec of its host wins, allow wins ties, no
    match means allowed.  One equality join on host + a regex match +
    a per-url max over matched pairs; the oracle evaluates the
    identical staged rule table relationally."""
    from origami_spark.operators.robots import robots_gate

    pages = _stage_html_pages(spark, sf).select("url")
    rules = _stage_robots_rules(spark, sf)
    # the staged gate rule table is known-tiny -> explicit broadcast;
    # at crawl scale callers leave broadcast_rules=None (AQE decides)
    return robots_gate(pages, rules, broadcast_rules=True).select(
        "url", "host", "allowed")


# captures are [^<]*, so nested markup means no match; '' and
# whitespace-only unify to NULL via the shared normalize
@gate(f"""
            WITH pages AS (
              SELECT url, html FROM '{HTML_PAGES_PATH}/*.parquet'),
            raw AS (
              SELECT url,
                     regexp_extract(html,
                       '(?i)<title>([^<]*)</title>', 1) AS title,
                     regexp_extract(html,
                       '(?i)<meta[ \t\n\r\f][^>]*charset="?([A-Za-z0-9_-]+)"?',
                       1) AS charset,
                     regexp_extract(html,
                       '(?i)<h1[^>]*>([^<]*)</h1>', 1) AS h1,
                     regexp_extract(html,
                       '(?i)<meta[ \t\n\r\f][^>]*name="description"[^>]*content="([^"]*)"',
                       1) AS description,
                     regexp_extract(html,
                       '(?i)<link[ \t\n\r\f][^>]*rel="canonical"[^>]*href="([^"]*)"',
                       1) AS canonical
              FROM pages)
            SELECT url,
                   nullif(trim(regexp_replace(title,
                       '[ \t\n\r\f]+', ' ', 'g')), '') AS title,
                   lower(nullif(trim(regexp_replace(charset,
                       '[ \t\n\r\f]+', ' ', 'g')), '')) AS charset,
                   nullif(trim(regexp_replace(h1,
                       '[ \t\n\r\f]+', ' ', 'g')), '') AS h1,
                   nullif(trim(regexp_replace(description,
                       '[ \t\n\r\f]+', ' ', 'g')), '') AS description,
                   nullif(trim(regexp_replace(canonical,
                       '[ \t\n\r\f]+', ' ', 'g')), '') AS canonical
            FROM raw""")
def html_metadata(spark, sf):
    """Head-metadata harvest (operators/pagemeta.html_head_meta):
    title / declared charset / lead h1 / meta description / canonical
    url per page, one Catalyst regexp projection over the staged
    pages, empties and no-matches unified to NULL in both engines."""
    from origami_spark.operators.pagemeta import html_head_meta

    return html_head_meta(_stage_html_pages(spark, sf))
