"""Link-graph operators: edge derivation, degree statistics, PageRank.

Crawl-scale corpus pipelines weight pages and hosts by link-graph
centrality (Common Crawl publishes host-level harmonic-centrality /
PageRank tables that quality filters join against), so the engine needs
a graph family next to dedup/sampling:

* :func:`event_edges` — derive a weighted directed transition graph
  from an ordered event log (per-entity consecutive pairs via one
  ``lag`` window; the standard sessionization shape).
* :func:`degrees` — in/out degree and strength per node in ONE shuffle
  (a two-sided projection union, not two aggregations + outer join).
* :func:`pagerank` — damped PageRank over ``K`` synchronous iterations.

Determinism contract (the property the DuckDB oracle checks): scores
are **fixed-point BIGINTs** (``scale`` = one unit of mass) and every
per-edge contribution is computed with *integer* floor division
``(score * weight * d_num) div (out_w * d_den)``.  Integer sums are
associative/commutative, so the result is bit-identical at any
partitioning, any engine — the oracle unrolls the same K iterations as
chained CTEs and must hash-match exactly.  (A float PageRank would
differ across engines in the last ulp through sum ordering.)

Dangling nodes (no out-edges) keep receiving the teleport ``base`` but
their damped mass leaves the system — the classic "remove dangling
mass" variant; total mass therefore shrinks monotonically toward
``n * base / (1 - d)`` instead of being conserved.  Flooring also
leaks < 1 unit per edge per iteration.  Both are deliberate: this is a
*ranking* signal, not a probability, and exactness-of-reproduction
beats exactness-of-normalization for a corpus-curation join key.

Scale design (100 TB / 10^9-node bar): the measured edge count, not
a session setting, picks the plan.  Up to ``_KERNEL_EDGES`` edges the
recurrence runs in one task as numpy int64 that raises wherever Spark
ANSI raises (bit-identical, never wrapped).  Above it the edge
relation is the big side and is hash-partitioned by ``src`` ONCE and
persisted; each iteration shuffles only the (node, score) relation —
|V| rows — into that fixed partitioning, then one ``groupBy(dst)``
reduce per iteration (partial aggregation map-side).  K iterations =
2K exchanges of the *small* relation, zero re-exchanges of the edge
relation.  ``localCheckpoint`` cuts the lineage so the plan does not
grow with K.

Reference parity: origami has no graph stage (its XY-cut ordering is a
page-local recursion, ``core/xycut.py``); this family extends the
engine for crawl-grade curation like operators/hosts.py does.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cache, cache_scope

__all__ = ["event_edges", "html_link_edges", "degrees", "pagerank",
           "pagerank_base", "hits"]

# Edge count up to which pagerank, hits and connected_components run
# as one in-task numpy kernel.  Measured on a 4-core VM (|V| = |E|/10),
# kernel vs relational, pagerank / hits / components: 0.35 / 0.17 /
# 0.33 s vs 3.7 / 5.7 / 1.9 s at 10^4 edges, 2.4 / 2.8 / 3.2 s vs 7.3 /
# 19.8 / 9.3 s at 10^6; pagerank 13.2 vs 18.4 s at 4*10^6.  One task
# does not grow with the cluster: cut where it still wins 3x on 4 cores.
_KERNEL_EDGES = 1_000_000
_MIN = np.iinfo(np.int64).min


def _in_task(e: DataFrame, schema: str, kernel) -> DataFrame:
    """``kernel(*columns)`` over all of ``e`` as int64 arrays in ONE task
    (``coalesce(1)``, no shuffle); it returns the ``schema`` columns."""
    def run(batches):
        parts = [b for b in batches if len(b)]
        if parts:
            cols = pd.concat(parts)
            yield pd.DataFrame(np.column_stack(
                kernel(*(cols[c].to_numpy(np.int64) for c in cols))))
    return e.coalesce(1).mapInPandas(run, schema)


def _empty(e: DataFrame, schema: str) -> DataFrame:
    """The result of an edgeless graph: no node, and no job to run."""
    return e.sparkSession.createDataFrame([], schema)


def _raise_if(bad, error: str):
    if np.any(bad):
        raise ArithmeticError(f"[{error}] in an in-task graph kernel")


def _mul(a, b):
    """BIGINT ``a * b``, raising where ANSI raises instead of wrapping."""
    with np.errstate(all="ignore"):
        p = a * b
        _raise_if((a != 0) & ((p // np.where(a == 0, 1, a) != b)
                              | ((a == -1) & (b == _MIN))),
                  "ARITHMETIC_OVERFLOW")
    return p


def _div(a, b):
    """BIGINT ``div`` (truncates toward zero), raising where ANSI does."""
    _raise_if(b == 0, "DIVIDE_BY_ZERO")
    _raise_if((a == _MIN) & (b == -1), "ARITHMETIC_OVERFLOW")
    return (a - np.fmod(a, b)) // b


def _sum(keys, x, n: int):
    """Exact per-key sums of ``x`` into ``n`` BIGINTs (the 32-bit halves
    cannot overflow; ``np.bincount(weights=)`` would sum in float64),
    raising where ANSI ``sum`` does for the kernels' non-negative x."""
    hi, lo = np.zeros(n, np.int64), np.zeros(n, np.int64)
    np.add.at(hi, keys, x >> 32)
    np.add.at(lo, keys, x & 0xFFFFFFFF)
    hi += lo >> 32
    _raise_if((hi < -(1 << 31)) | (hi >= 1 << 31), "ARITHMETIC_OVERFLOW")
    return (hi << 32) | (lo & 0xFFFFFFFF)


def _node_index(src, dst):
    """Sorted node ids and each endpoint's index into them."""
    node, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return node, idx[:len(src)], idx[len(src):]


def _resolve_href(href_col, origin_col):
    """Fragment-strip an href and resolve it against the page origin —
    ONE implementation of the url-resolution contract shared by
    :func:`html_link_edges` and :func:`html_anchor_texts` (so the link
    graph and the anchor harvest can never disagree on the same page):
    absolute http(s) hrefs pass through, root-relative ``/path`` hrefs
    get the origin prefixed, everything else (mailto/javascript/empty/
    relative-path) is non-navigational NULL."""
    h = F.split(href_col, "#").getItem(0)
    return (
        F.when(h.startswith("http://") | h.startswith("https://"), h)
        .when(h.startswith("/"), F.concat(origin_col, h))
        .otherwise(F.lit(None).cast("string"))
    )


def html_link_edges(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """Weighted page-level link graph from raw HTML — the crawl-native
    edge derivation (Common Crawl's host/domain graphs start exactly
    here: href extraction over WARC payloads).

    Pure Catalyst end-to-end: one ``regexp_extract_all`` projection
    pulls every ``href="..."`` value, fragments are stripped, and the
    target resolves against the page origin — absolute http(s) hrefs
    pass through, root-relative ``/path`` hrefs get the origin
    prefixed, everything else (mailto/javascript/empty/relative-path)
    drops as a non-navigational edge.  Self-loops drop (as in
    :func:`event_edges`).  No UDF, no kernel; the regexp is RE2-safe
    so the DuckDB oracle extracts the identical matches.

    Output: ``src, dst, weight`` — string urls; hash with
    ``portable_hash60`` for :func:`pagerank`/:func:`degrees` node ids.

    Scale shape: one scan projection (html never shuffles — only the
    exploded (src, dst) pairs, ~tens of rows per page) + one
    ``groupBy(src, dst)`` with map-side combine.  The downstream
    host-graph rollup is one more bounded aggregation.
    """
    origin = F.regexp_extract(F.col(url_col), r"^(https?://[^/]+)", 1)
    # (?i): attribute names are case-insensitive html (HREF= is legal)
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(r'(?i)href="([^"]*)"'), 1)
    raw = pages.select(
        F.col(url_col).alias("src"),
        origin.alias("_origin"),
        F.explode(hrefs).alias("_href"),
    )
    dst = _resolve_href(F.col("_href"), F.col("_origin"))
    return (
        raw.select("src", dst.alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def event_edges(events: DataFrame, entity_col: str = "user_id",
                order_cols: tuple = ("ts", "event_id"),
                node_expr: str = "CAST(get_json_object(props, '$.k') AS BIGINT)",
                ) -> DataFrame:
    """Weighted transition graph from an ordered event log.

    Consecutive events of one entity form a directed edge
    ``prev_node -> node`` (self-loops dropped — they carry no ranking
    information and would let a node launder mass to itself); edge
    weight = number of such transitions corpus-wide.

    Output: ``src, dst, weight`` (all BIGINT).

    One window shuffle keyed on the entity.  Entities are the natural
    skew-safe key for event logs (a session/user has bounded length);
    for power-law entities apply the two-level split of
    :func:`~origami_spark.operators.hosts.host_cap` first.
    """
    w = Window.partitionBy(entity_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    t = events.select(F.expr(node_expr).alias("dst"),
                      F.col(entity_col), *[F.col(c) for c in order_cols])
    seq = t.withColumn("src", F.lag("dst").over(w))
    return (
        seq.filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def html_anchor_texts(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """(src, dst, anchor) rows — the link text a page attaches to each
    target (the raw material of anchor-text datasets: web-grade
    titles/descriptions harvested from citing pages, as in Common
    Crawl anchor corpora).

    Same single-projection shape as :func:`html_link_edges`, but the
    regexp captures the whole ``<a ...>text</a>`` element: group 1 the
    href, group 2 the inner text.  The inner-text capture is
    ``[^<]*`` — an anchor whose label contains nested markup does not
    match at all and DROPS (documented contract, tested; a full
    nested parse belongs to the html tokenizer, not a regexp).
    Anchors with empty labels drop.  Whitespace in the label is
    normalized to single spaces and trimmed, so the output is
    join-ready against token pipelines.

    Output: ``src, dst, anchor`` — one row per anchor occurrence
    (duplicates preserved: repetition is signal for anchor-text
    weighting).
    """
    # explicit whitespace class — bare \s means different sets in Java
    # vs RE2 (the bpe_pretokens precedent), which would silently match
    # different anchors between the engine and its DuckDB oracle; (?i)
    # because tag/attribute names are case-insensitive html.  The full
    # pattern scans each page ONCE (group 0); href/label then extract
    # from the short matched elements instead of re-scanning the page.
    pat = r'(?i)<a[ \t\n\r\f][^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
    origin = F.regexp_extract(F.col(url_col), r"^(https?://[^/]+)", 1)
    h = F.col(html_col).cast("string")
    raw = pages.select(
        F.col(url_col).alias("src"),
        origin.alias("_origin"),
        F.explode(F.regexp_extract_all(h, F.lit(pat), 0)).alias("el"),
    )
    dst = _resolve_href(F.regexp_extract(F.col("el"), pat, 1),
                        F.col("_origin"))
    anchor = F.trim(
        F.regexp_replace(F.regexp_extract(F.col("el"), pat, 2),
                         r"[ \t\n\r\f]+", " "))
    return (
        raw.select("src", dst.alias("dst"), anchor.alias("anchor"))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src"))
                & (F.col("anchor") != ""))
    )


def host_edges(edges: DataFrame) -> DataFrame:
    """Roll the page-level link graph up to HOST grain — the form
    Common Crawl actually publishes its webgraphs in (host/domain
    graphs with summed edge multiplicities): ``(src, dst, weight)``
    urls -> ``(src, dst, weight)`` hosts, same-host (intra-site) edges
    dropped, multiplicities summed.

    One bounded aggregation over the edge list (map-side combine; the
    result has at most |hosts|² rows and in practice ~links-per-site
    × hosts).  Compose with :func:`degrees` / :func:`pagerank` for
    host centrality — the curation signal operators/hosts.py consumes.
    """
    from .hosts import host_of

    return (
        edges.select(
            host_of("src").alias("src"),
            host_of("dst").alias("dst"),
            F.col("weight").cast("bigint").alias("weight"),
        )
        .filter((F.col("src") != "") & (F.col("dst") != "")
                & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("bigint").alias("weight"))
    )


def anchor_topk(anchors: DataFrame, k: int = 3, salt: int = 64) -> DataFrame:
    """Per-target anchor-text profile: the ``k`` most frequent labels
    pointing at each dst — the aggregation that turns the raw anchor
    harvest (:func:`html_anchor_texts`) into a per-target text
    surrogate (anchor-text corpora for retrieval training / link-
    context document expansion).

    Output: ``dst, anchor, n (bigint), rk (bigint)`` with ``rk <= k``
    under the total order (n desc, anchor asc).

    Plan: one ``groupBy(dst, anchor)`` count (map-side combine), then
    the two-level deterministic top-k (the host_cap/bm25 recipe): a
    single per-dst window would sort a mega-indegree target's whole
    distinct-anchor set on one task; phase 1 ranks within
    ``(dst, hash-of-anchor % salt)`` and keeps k, phase 2 ranks the
    <= salt*k survivors.  Value-identical to the single-window form
    (any global top-k member is its group's top-k member), which
    stays the oracle formulation.
    """
    c = (
        anchors.groupBy("dst", "anchor")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w1 = Window.partitionBy("dst", "_g").orderBy(F.desc("n"), F.asc("anchor"))
    w2 = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("anchor"))
    return (
        c.withColumn("_g", F.pmod(F.xxhash64("anchor"), F.lit(salt)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("dst", "anchor", "n", "rk")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree/strength table in ONE aggregation shuffle.

    Output: ``node, out_deg, in_deg, out_weight, in_weight``.

    Instead of aggregating twice (once by src, once by dst) and
    full-outer-joining — two shuffles plus a join — each edge is
    projected into two half-rows (its src side and its dst side) and a
    single ``groupBy(node)`` folds both.  The union is map-side only.
    """
    src_side = edges.select(
        F.col("src").alias("node"),
        F.lit(1).cast("bigint").alias("out_deg"),
        F.lit(0).cast("bigint").alias("in_deg"),
        F.col("weight").cast("bigint").alias("out_weight"),
        F.lit(0).cast("bigint").alias("in_weight"),
    )
    dst_side = edges.select(
        F.col("dst").alias("node"),
        F.lit(0).cast("bigint").alias("out_deg"),
        F.lit(1).cast("bigint").alias("in_deg"),
        F.lit(0).cast("bigint").alias("out_weight"),
        F.col("weight").cast("bigint").alias("in_weight"),
    )
    return (
        src_side.unionByName(dst_side)
        .groupBy("node")
        .agg(F.sum("out_deg").cast("bigint").alias("out_deg"),
             F.sum("in_deg").cast("bigint").alias("in_deg"),
             F.sum("out_weight").cast("bigint").alias("out_weight"),
             F.sum("in_weight").cast("bigint").alias("in_weight"))
    )


def pagerank_base(scale: int, d_num: int, d_den: int) -> int:
    """Teleport mass per node per iteration, in fixed-point units.

    ``floor(scale * (1 - d))`` computed in exact integer arithmetic —
    inlined as a literal on both engine and oracle sides so neither
    ever evaluates a float."""
    return (scale * (d_den - d_num)) // d_den


def _pagerank_kernel(src, dst, weight, iters, scale, d_num, d_den):
    node, s, d = _node_index(src, dst)
    n = len(node)
    den = _mul(_sum(s, weight, n)[s], d_den)
    # each node's teleport base rides along as one more addend
    keys = np.concatenate([d, np.arange(n)])
    base = np.full(n, pagerank_base(scale, d_num, d_den), np.int64)
    score = np.full(n, scale, np.int64)
    for _ in range(iters):
        c = _div(_mul(_mul(score[s], weight), d_num), den)
        score = _sum(keys, np.concatenate([c, base]), n)
    return node, score


def pagerank(edges: DataFrame, iters: int = 6, scale: int = 1 << 20,
             d_num: int = 85, d_den: int = 100) -> DataFrame:
    """Damped PageRank, ``iters`` synchronous integer iterations.

    ``edges``: (src, dst, weight) — weight > 0, no NULL field (such a
    row drops).  Damping factor is the exact rational ``d_num / d_den``
    (default 0.85).  Every node starts with ``scale`` units of mass;
    each iteration a node keeps the teleport ``base`` (see
    :func:`pagerank_base`) and receives
    ``(score_src * weight * d_num) div (out_w_src * d_den)`` from each
    in-edge.  All arithmetic is BIGINT; see the module docstring for
    the determinism/overflow contract (products stay < 2^63 for
    |V| * scale * max_weight * d_num < 2^63 — 10^9 nodes at the default
    scale leaves weights up to ~10^5).

    Output: ``node, score`` (BIGINT fixed-point; divide by ``scale``
    for the conventional per-node mass), materialized.
    """
    if iters < 1:
        raise ValueError("pagerank needs iters >= 1")
    base = pagerank_base(scale, d_num, d_den)

    with cache_scope():
        # one edge-derivation pass: without this cache, each consumer
        # below (out-weight agg, join, node-universe distinct) re-runs the
        # full upstream edge derivation — for event/html graphs that is a
        # corpus-wide window or regexp pass, paid 3x (guide §5 caching:
        # reused AND expensive to recompute)
        e = cache(edges.select(F.col("src").cast("bigint"),
                               F.col("dst").cast("bigint"),
                               F.col("weight").cast("bigint")).dropna())
        # materializes the one edge-derivation pass AND picks the plan
        n_edges = e.count()
        if n_edges == 0:
            return _empty(e, "node bigint, score bigint")
        if n_edges <= _KERNEL_EDGES:
            return _in_task(e, "node bigint, score bigint", partial(
                _pagerank_kernel, iters=iters, scale=scale, d_num=d_num,
                d_den=d_den)).localCheckpoint(eager=True)
        nodes = cache(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        outw = e.groupBy("src").agg(F.sum("weight").alias("out_w"))
        # the big relation, partitioned by the join key ONCE and
        # reused by every iteration (the cache pins the output
        # partitioning, so the per-iteration join re-shuffles only
        # the small score relation)
        ew = cache(e.join(outw, "src").repartition(F.col("src")))

        scores = nodes.withColumn("score", F.lit(scale).cast("bigint"))
        contrib_expr = F.expr(
            f"(score * weight * {d_num}L) div (out_w * {d_den}L)")
        for it in range(iters):
            contribs = (
                ew.join(scores.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"),
                        contrib_expr.alias("contrib"))
                .groupBy("node")
                .agg(F.sum("contrib").alias("received"))
            )
            scores = nodes.join(contribs, "node", "left").select(
                "node",
                (F.lit(base).cast("bigint")
                 + F.coalesce(F.col("received"), F.lit(0)).cast("bigint")
                 ).alias("score"),
            )
            # Materialize every 2 rounds (and on the last; each cut is
            # a full job) and cut lineage: the plan stays O(1) in K, and
            # the persisted edge relation is actually hit
            # instead of being re-derived inside one giant DAG.
            # (localCheckpoint trades executor-loss recomputability for
            # speed — swap for reliable checkpoint() on a lossy
            # cluster.)
            if it % 2 == 1 or it + 1 == iters:
                scores = scores.localCheckpoint(eager=True)
        return scores


def _hits_kernel(src, dst, weight, iters, scale):
    node, s, d = _node_index(src, dst)
    n = len(node)

    def norm(raw, keys):
        # the max runs over the nodes the step scored, as in the plan
        return _div(_mul(raw, scale), raw[keys].max())

    hub = np.full(n, scale, np.int64)
    for _ in range(iters):
        auth = norm(_sum(d, _mul(hub[s], weight), n), d)
        hub = norm(_sum(s, _mul(auth[d], weight), n), s)
    return node, hub, auth


def hits(edges: DataFrame, iters: int = 4,
         scale: int = 1 << 16) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment", JACM — public), ``iters``
    synchronous iterations in exact BIGINT fixed-point — the second
    classic link-centrality signal next to :func:`pagerank` (crawl
    curation uses authority scores to seed quality lists).

    Recurrence per iteration (all integer):

        a_raw(v) = sum over in-edges (u, v, w) of  h(u) * w
        a(v)     = (a_raw(v) * scale) div max_v a_raw   -- max-norm
        h_raw(u) = sum over out-edges (u, v, w) of a(v) * w
        h(u)     = (h_raw(u) * scale) div max_u h_raw

    Max-normalization instead of the textbook L2: it needs no sqrt
    (integer-exact, engine-portable) and preserves the ranking, which
    is what a curation join key consumes.  The max enters the plan as
    a broadcast one-row relation (cross join), NOT a driver collect —
    the whole K-iteration program is one lazy Catalyst plan with
    per-round localCheckpoints.  Overflow bound: ``a_raw * scale <
    2^63`` needs weighted in-degree < 2^63 / scale^2 = 2^31 at the
    default scale — two billion per node, beyond any real host graph.

    Scale shape: the edge relation is persisted TWICE, pre-partitioned
    by src (the a-step join) and by dst (the h-step join); each
    iteration shuffles only the |V|-row score relations into those
    fixed partitionings plus one partially-aggregated reduce per step.
    Zero re-exchanges of the edge relation, plan O(1) in K.

    Output: ``(node, hub, authority)`` BIGINT fixed-point, materialized.
    Edges as in :func:`pagerank`.
    """
    if iters < 1:
        raise ValueError("hits needs iters >= 1")
    with cache_scope():
        # one edge-derivation pass shared by the node universe and both
        # pre-partitioned edge relations (same rationale as pagerank);
        # the count also picks the plan
        e = cache(edges.select(F.col("src").cast("bigint"),
                               F.col("dst").cast("bigint"),
                               F.col("weight").cast("bigint")).dropna())
        n_edges = e.count()
        if n_edges == 0:
            return _empty(e, "node bigint, hub bigint, authority bigint")
        if n_edges <= _KERNEL_EDGES:
            return _in_task(e, "node bigint, hub bigint, authority bigint",
                            partial(_hits_kernel, iters=iters, scale=scale)
                            ).localCheckpoint(eager=True)
        nodes = cache(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        e_src = cache(e.repartition(F.col("src")))
        e_dst = cache(e.repartition(F.col("dst")))

        def norm(raw, col):
            mx = raw.agg(F.max(col).alias("_mx"))
            return (
                raw.crossJoin(F.broadcast(mx))
                .select("node",
                        F.expr(f"({col} * {scale}L) div _mx").alias(col))
            )

        hub = nodes.withColumn("hub", F.lit(scale).cast("bigint"))
        for _ in range(iters):
            a_raw = (
                e_src.join(hub.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"),
                        (F.col("hub") * F.col("weight")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("authority"))
            )
            # only the hub half-step checkpoints: the auth relation
            # feeds h_raw inside the same plan (its shuffle output is
            # reused), so materializing it too just doubles the sync
            # barriers — measured 16.1 s vs 7.7 s cold at sf0.01,
            # values identical
            auth = norm(a_raw, "authority")
            h_raw = (
                e_dst.join(auth.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"),
                        (F.col("authority") * F.col("weight")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("hub"))
            )
            # cut every round: an uncut round re-derives its aggregate twice
            hub = norm(h_raw, "hub").localCheckpoint(eager=True)
        out = (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
                F.coalesce("authority", F.lit(0)).cast("bigint")
                .alias("authority"),
            )
        )
        # the final auth half-step and the node universe still
        # reference the cached relations; cut the result's lineage
        # BEFORE the scope releases them, or the caller's
        # materialization re-derives the whole edge relation from
        # scratch (measured: 2 extra corpus passes at collect time).
        # |V| rows — the same materialization cadence as the
        # per-iteration checkpoints.
        return out.localCheckpoint(eager=True)
