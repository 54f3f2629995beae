"""Graph gates: event graph and HTML link graph centrality."""

import os

from pyspark.sql import functions as F

from gates import _H60, _STAGE_DIR, _spread, _t, gate, stage
from gates.extract import _pages_from_documents
from gates.web import HTML_PAGES_PATH, _stage_html_pages

LINKED_PAGES_PATH = os.path.join(_STAGE_DIR, "linked_pages.parquet")


# the events transition graph shared by the graph_* oracles (mirrors
# operators/graph.event_edges: per-user lag over (ts, event_id),
# self-loops dropped)
_GRAPH_EDGE_CTE = """ev AS (
              SELECT event_id, ts, user_id,
                     CAST(json_extract(props, '$.k') AS BIGINT) AS dst
              FROM events),
            seq AS (
              SELECT dst,
                     lag(dst) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS src
              FROM ev),
            edges AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
              FROM seq WHERE src IS NOT NULL AND src <> dst
              GROUP BY 1, 2)"""


def _anchors_cte() -> str:
    """CTE chain ending in ``anchors(src, dst, anchor)`` — the oracle
    mirror of operators/graph.html_anchor_texts, shared by the raw
    harvest gate and the per-target top-k gate.  Two unnests from the
    SAME pattern zip positionally in DuckDB, mirroring the engine's
    arrays_zip of the two capture groups; regexp_replace needs the 'g'
    flag (DuckDB default replaces only the first run, Spark all)."""
    return f"""pages AS (
              SELECT url, html FROM '{HTML_PAGES_PATH}/*.parquet'),
            m AS (
              SELECT url AS src,
                     regexp_extract(url, '^(https?://[^/]+)', 1)
                       AS origin,
                     unnest(regexp_extract_all(html,
                       '(?i)<a[ \t\n\r\f][^>]*href="([^"]*)"[^>]*>([^<]*)</a>',
                       1)) AS href,
                     unnest(regexp_extract_all(html,
                       '(?i)<a[ \t\n\r\f][^>]*href="([^"]*)"[^>]*>([^<]*)</a>',
                       2)) AS label
              FROM pages),
            r AS (
              SELECT src,
                     CASE WHEN h LIKE 'http://%' OR h LIKE 'https://%'
                            THEN h
                          WHEN h LIKE '/%' THEN origin || h
                          ELSE NULL END AS dst,
                     trim(regexp_replace(label,
                          '[ \t\n\r\f]+', ' ', 'g')) AS anchor
              FROM (SELECT src, origin, str_split(href, '#')[1] AS h,
                           label
                    FROM m)),
            anchors AS (
              SELECT src, dst, anchor FROM r
              WHERE dst IS NOT NULL AND dst <> src AND anchor <> '')"""


def _html_edge_cte(hashed: bool, name: str = "edges",
                   path: str | None = None) -> str:
    """The html link-graph edge CTE (mirrors
    operators/graph.html_link_edges over the staged pages), ending at
    ``<name>(src, dst, weight)`` — url strings, or hash60 node ids
    when ``hashed`` (the pagerank form)."""
    sel = (f"SELECT {_H60.format(x='src')} AS src, "
           f"{_H60.format(x='dst')} AS dst, weight FROM eres"
           if hashed else "SELECT src, dst, weight FROM eres")
    return f"""pages AS (
              SELECT url, html FROM '{path or HTML_PAGES_PATH}/*.parquet'),
            links AS (
              SELECT url AS src,
                     regexp_extract(url, '^(https?://[^/]+)', 1) AS origin,
                     unnest(regexp_extract_all(html,
                       '(?i)href="([^"]*)"', 1)) AS href
              FROM pages),
            resolved AS (
              SELECT src,
                     CASE WHEN h LIKE 'http://%' OR h LIKE 'https://%'
                            THEN h
                          WHEN h LIKE '/%' THEN origin || h
                          ELSE NULL END AS dst
              FROM (SELECT src, origin, str_split(href, '#')[1] AS h
                    FROM links)),
            eres AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
              FROM resolved WHERE dst IS NOT NULL AND dst <> src
              GROUP BY 1, 2),
            {name} AS ({sel})"""


_HOST_EXPR = ("lower(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://"
              "(?:[^/?#]*@)?([^/:?#@]+)', 1))")


def _host_edge_cte() -> str:
    """Host rollup of the html edge CTE with hash60 node ids, ending
    at ``edges(src, dst, weight)`` — the graph_host_pagerank form
    (mirrors operators/graph.host_edges over html_link_edges)."""
    return f"""{_html_edge_cte(hashed=False, name='uedges',
                               path=LINKED_PAGES_PATH)},
            hroll AS (
              SELECT {_HOST_EXPR.format(u='src')} AS hsrc,
                     {_HOST_EXPR.format(u='dst')} AS hdst, weight
              FROM uedges),
            hedges AS (
              SELECT hsrc, hdst, CAST(sum(weight) AS BIGINT) AS weight
              FROM hroll
              WHERE hsrc <> '' AND hdst <> '' AND hsrc <> hdst
              GROUP BY hsrc, hdst),
            edges AS (
              SELECT {_H60.format(x='hsrc')} AS src,
                     {_H60.format(x='hdst')} AS dst, weight
              FROM hedges)"""


def _pagerank_oracle_sql(iters: int = 6,
                         edge_cte: str | None = None) -> str:
    """The engine's integer PageRank recurrence unrolled as chained
    CTEs (one per iteration).  `//` is DuckDB floor division — equal to
    Spark's `div` on the all-positive operands here; the scale, the
    damping rational and the teleport base are the operator's own
    constants (operators/graph.PAGERANK_*), inlined as exact integer
    literals on both sides.  ``edge_cte`` must end at
    ``edges(src, dst, weight)``; default is the events transition
    graph."""
    from origami_spark.operators.graph import (DAMPING_DEN, DAMPING_NUM,
                                               PAGERANK_BASE, PAGERANK_SCALE)

    ctes = [
        edge_cte or _GRAPH_EDGE_CTE,
        """nodes AS (
              SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """outw AS (
              SELECT src, CAST(sum(weight) AS BIGINT) AS out_w
              FROM edges GROUP BY 1)""",
        f"""s0 AS (SELECT node, CAST({PAGERANK_SCALE} AS BIGINT) AS score
                   FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""s{i} AS (
              SELECT n.node,
                     CAST({PAGERANK_BASE} + coalesce(c.recv, 0) AS BIGINT) AS score
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((s.score * e.weight * {DAMPING_NUM})
                           // (o.out_w * {DAMPING_DEN})) AS recv
                FROM edges e
                JOIN outw o ON o.src = e.src
                JOIN s{i - 1} s ON s.node = e.src
                GROUP BY e.dst) c ON c.node = n.node)""")
    return ("WITH " + ",\n            ".join(ctes)
            + f"\n            SELECT node, score FROM s{iters}")


def _hits_oracle_sql(iters: int = 4,
                     edge_cte: str | None = None) -> str:
    """The engine's integer HITS recurrence (operators/graph.hits)
    unrolled as chained CTEs — two half-steps per iteration, each
    max-normalized to ``HITS_SCALE`` via a scalar subquery (the oracle
    twin of the broadcast one-row cross join on the Spark side).
    All-positive operands, so DuckDB ``//`` == Spark ``div``."""
    from origami_spark.operators.graph import HITS_SCALE

    # every iteration CTE is referenced twice (main + the scalar-max
    # subquery / the next half-step), and DuckDB INLINES plain CTEs —
    # re-evaluating the whole chain per reference, exponential in
    # iters (measured 0.15s/0.54s/13.7s for 1/2/3 iterations at
    # sf0.001).  MATERIALIZED pins each half-step to one evaluation.
    ctes = [
        edge_cte or _GRAPH_EDGE_CTE,
        """nodes AS MATERIALIZED (
              SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        f"""h0 AS MATERIALIZED (
              SELECT node, CAST({HITS_SCALE} AS BIGINT) AS hub FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""ar{i} AS MATERIALIZED (
              SELECT e.dst AS node,
                     CAST(sum(h.hub * e.weight) AS BIGINT) AS raw
              FROM edges e JOIN h{i - 1} h ON h.node = e.src
              GROUP BY 1)""")
        ctes.append(f"""a{i} AS MATERIALIZED (
              SELECT node,
                     CAST((raw * {HITS_SCALE}) // (SELECT max(raw) FROM ar{i})
                          AS BIGINT) AS authority
              FROM ar{i})""")
        ctes.append(f"""hr{i} AS MATERIALIZED (
              SELECT e.src AS node,
                     CAST(sum(a.authority * e.weight) AS BIGINT) AS raw
              FROM edges e JOIN a{i} a ON a.node = e.dst
              GROUP BY 1)""")
        ctes.append(f"""h{i} AS MATERIALIZED (
              SELECT node,
                     CAST((raw * {HITS_SCALE}) // (SELECT max(raw) FROM hr{i})
                          AS BIGINT) AS hub
              FROM hr{i})""")
    return ("WITH " + ",\n            ".join(ctes) + f"""
            SELECT n.node,
                   CAST(coalesce(h.hub, 0) AS BIGINT) AS hub,
                   CAST(coalesce(a.authority, 0) AS BIGINT) AS authority
            FROM nodes n
            LEFT JOIN h{iters} h ON h.node = n.node
            LEFT JOIN a{iters} a ON a.node = n.node""")


@gate(f"""
            WITH {_GRAPH_EDGE_CTE},
            sides AS (
              SELECT src AS node, 1 AS o, weight FROM edges
              UNION ALL
              SELECT dst AS node, 0 AS o, weight FROM edges)
            SELECT node,
                   CAST(sum(o) AS BIGINT) AS out_deg,
                   CAST(sum(1 - o) AS BIGINT) AS in_deg,
                   CAST(sum(CASE WHEN o = 1 THEN weight ELSE 0 END)
                        AS BIGINT) AS out_weight,
                   CAST(sum(CASE WHEN o = 0 THEN weight ELSE 0 END)
                        AS BIGINT) AS in_weight
            FROM sides GROUP BY node""")
def graph_degrees(spark, sf):
    """Link-graph degree/strength table (operators/graph.py): the
    transition graph is derived from the events log (per-user
    consecutive props.k values, one lag window), then in/out degree and
    strength fold in ONE aggregation shuffle via the two-sided
    projection union.  The oracle is the direct per-side formulation."""
    from origami_spark.operators.graph import degrees, event_edges

    return degrees(event_edges(_spread(_t(spark, sf, "events"), "event_id")))


@gate(_pagerank_oracle_sql(iters=6))
def graph_pagerank(spark, sf):
    """Damped PageRank, 6 synchronous iterations of fixed-point BIGINT
    arithmetic (operators/graph.py) over the events transition graph.
    Integer sums are order-independent, so the oracle — the SAME
    recurrence unrolled as 6 chained CTEs in DuckDB — must hash-match
    bit-for-bit: the claim under test is that a K-iteration distributed
    graph algorithm can be made engine-exact."""
    from origami_spark.operators.graph import event_edges, pagerank

    return pagerank(event_edges(_spread(_t(spark, sf, "events"), "event_id")), iters=6)


@gate(_hits_oracle_sql(iters=4))
def graph_hits(spark, sf):
    """HITS hubs & authorities (operators/graph.hits, Kleinberg 1999),
    4 synchronous iterations of exact BIGINT fixed-point with max-norm
    per half-step, over the same events transition graph as
    graph_pagerank.  Integer arithmetic end to end, so the oracle —
    the identical recurrence unrolled as chained CTEs with scalar-
    subquery maxima — must hash-match bit-for-bit."""
    from origami_spark.operators.graph import event_edges, hits

    return hits(event_edges(_spread(_t(spark, sf, "events"), "event_id")), iters=4)


@gate(f"""
            WITH {_html_edge_cte(hashed=False)}
            SELECT src, dst, weight FROM edges""")
def graph_html_links(spark, sf):
    """Page-level link graph straight from raw HTML
    (operators/graph.html_link_edges): one Catalyst regexp projection
    pulls every href, fragments strip, root-relative targets resolve
    against the page origin, self-loops drop; (src, dst, weight) with
    one bounded groupBy.  The crawl-native edge derivation (Common
    Crawl's host graphs start here); the oracle runs the identical
    RE2-safe regexp over the staged pages."""
    from origami_spark.operators.graph import html_link_edges

    return html_link_edges(_spread(_stage_html_pages(spark, sf), "url"))


@gate(_pagerank_oracle_sql(iters=4, edge_cte=_html_edge_cte(hashed=True)))
def graph_html_pagerank(spark, sf):
    """Fixed-point integer PageRank over the html link graph: url
    nodes hashed with the portable hash60, 4 synchronous iterations —
    the full html -> edges -> centrality chain, hash-checked (the
    oracle re-derives edges from the staged pages and unrolls the same
    4 iterations)."""
    from origami_spark.operators.graph import html_link_edges, pagerank
    from origami_spark.operators.text import portable_hash60

    e = html_link_edges(_spread(_stage_html_pages(spark, sf),
                             "url")).select(
        portable_hash60(F.col("src")).alias("src"),
        portable_hash60(F.col("dst")).alias("dst"),
        "weight",
    )
    return pagerank(e, iters=4)


@gate(f"""
            WITH {_anchors_cte()}
            SELECT src, dst, anchor FROM anchors""")
def graph_html_anchors(spark, sf):
    """Anchor-text harvest (operators/graph.html_anchor_texts): the
    link label a page attaches to each target — the raw material of
    anchor-text datasets.  One regexp projection (href + inner text
    captured from the same RE2-safe pattern), whitespace-normalized
    labels, empty labels and self-links dropped.  The oracle zips the
    same two capture groups over the staged pages."""
    from origami_spark.operators.graph import html_anchor_texts

    return html_anchor_texts(_spread(_stage_html_pages(spark, sf), "url"))


def _stage_linked_pages(spark, sf):
    """Staged pages for the HOST-graph gates: the corpus generator
    emits only root-relative hrefs (every link stays on its own
    host), which would make the host rollup vacuously empty — so one
    deterministic cross-host anchor is appended per page, pointing at
    the next doc_id's url (hosts are drawn per doc, so consecutive
    docs usually live on different hosts).  The single-partition lead
    window is stage-time-only machinery over the tiny gate corpus;
    both engines read the staged parquet, so parity is unaffected."""
    from pyspark.sql import Window

    def build():
        pages = _pages_from_documents(spark, sf).select(
            F.regexp_extract("url", r"a(\d+)$", 1).cast("bigint")
            .alias("_doc"),
            "url", F.col("html").cast("string").alias("html"))
        w = Window.orderBy("_doc")
        return (
            pages.withColumn("_nxt", F.lead("url").over(w))
            .select(
                "url",
                # the max-doc_id page keeps its original html (no next
                # target) rather than dropping out of the gate corpus
                F.concat(
                    F.col("html"),
                    F.coalesce(
                        F.concat(F.lit('<a href="'), F.col("_nxt"),
                                 F.lit('">next</a>')),
                        F.lit(""),
                    ),
                ).alias("html"),
            )
        )

    # the staged parquet is one file; fan the regexp-heavy consumers out
    return _spread(stage(spark, LINKED_PAGES_PATH, sf, build), "url")


@gate(f"""
            WITH {_html_edge_cte(hashed=False, path=LINKED_PAGES_PATH)},
            he AS (
              SELECT lower(regexp_extract(src,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)',
                       1)) AS hsrc,
                     lower(regexp_extract(dst,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)',
                       1)) AS hdst,
                     weight
              FROM edges)
            SELECT hsrc AS src, hdst AS dst,
                   CAST(sum(weight) AS BIGINT) AS weight
            FROM he
            WHERE hsrc <> '' AND hdst <> '' AND hsrc <> hdst
            GROUP BY hsrc, hdst""")
def graph_host_edges(spark, sf):
    """Host-grain webgraph rollup (operators/graph.host_edges): the
    page-level href graph aggregated to the host/domain form Common
    Crawl publishes — intra-site edges dropped, multiplicities
    summed, one bounded aggregation.  Runs over the cross-host-linked
    staged pages (see _stage_linked_pages: the generator's own hrefs
    never leave their host)."""
    from origami_spark.operators.graph import host_edges, html_link_edges

    return host_edges(html_link_edges(_stage_linked_pages(spark, sf)))


@gate(_pagerank_oracle_sql(iters=4, edge_cte=_host_edge_cte()))
def graph_host_pagerank(spark, sf):
    """Host-level centrality — the full crawl-curation chain: raw html
    -> href edges -> host rollup -> hash60 ids -> 4 integer PageRank
    iterations, every stage engine-exact and the whole composition
    hash-checked against the oracle's unrolled recurrence."""
    from origami_spark.operators.graph import (host_edges,
                                               html_link_edges, pagerank)
    from origami_spark.operators.text import portable_hash60

    e = host_edges(html_link_edges(_stage_linked_pages(spark, sf)))
    e = e.select(portable_hash60(F.col("src")).alias("src"),
                 portable_hash60(F.col("dst")).alias("dst"), "weight")
    return pagerank(e, iters=4)


# the single-window rank is the oracle formulation; the engine
# runs the value-identical two-level split
@gate(f"""
            WITH {_anchors_cte()},
            c AS (
              SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n
              FROM anchors GROUP BY dst, anchor),
            rr AS (
              SELECT dst, anchor, n,
                     CAST(row_number() OVER (
                       PARTITION BY dst
                       ORDER BY n DESC, anchor) AS BIGINT) AS rk
              FROM c)
            SELECT dst, anchor, n, rk FROM rr WHERE rk <= 3""")
def graph_anchor_topk(spark, sf):
    """Per-target anchor profile (operators/graph.anchor_topk): the 3
    most frequent anchor labels per link target under the total
    (count desc, anchor asc) order — engine path uses the two-level
    hash-group top-k so a mega-indegree target never sorts its whole
    distinct-anchor set on one task; the oracle runs the
    value-identical single-window form."""
    from origami_spark.operators.graph import anchor_topk, html_anchor_texts

    return anchor_topk(
        html_anchor_texts(_spread(_stage_html_pages(spark, sf), "url")),
        k=3)
