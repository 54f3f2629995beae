"""Graph operators (operators/graph.py) vs an independent pure-Python
integer reference.

The engine's PageRank is fixed-point BIGINT arithmetic; the reference
below re-implements the same recurrence with Python ints, so agreement
is exact dict equality, not approximate."""

import datetime as dt

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from origami_spark.operators import graph
from origami_spark.operators.graph import (
    degrees,
    event_edges,
    hits,
    pagerank,
    pagerank_base,
)

SCALE = 1 << 20


def _py_pagerank(edges, iters, scale=SCALE, d_num=85, d_den=100):
    """Independent reference: same integer recurrence, plain dicts."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    base = (scale * (d_den - d_num)) // d_den
    score = {n: scale for n in nodes}
    for _ in range(iters):
        recv = dict.fromkeys(nodes, 0)
        for s, d, w in edges:
            recv[d] += (score[s] * w * d_num) // (outw[s] * d_den)
        score = {n: base + recv[n] for n in nodes}
    return score


# asymmetric weights, a hub (1), and a dangling sink (4: dst only)
EDGES = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 5), (2, 4, 1), (3, 4, 2)]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long, weight long")


def test_pagerank_matches_integer_reference(spark, edges_df):
    got = {r["node"]: r["score"] for r in pagerank(edges_df, iters=5).collect()}
    assert got == _py_pagerank(EDGES, iters=5)


def test_pagerank_single_iteration(spark, edges_df):
    got = {r["node"]: r["score"] for r in pagerank(edges_df, iters=1).collect()}
    assert got == _py_pagerank(EDGES, iters=1)
    # node 1's only in-edge is 3->1 (weight 5 of 3's total 7)
    base = pagerank_base(SCALE, 85, 100)
    assert got[1] == base + (SCALE * 5 * 85) // (7 * 100)


def test_pagerank_ring_is_uniform(spark):
    ring = [(i, (i + 1) % 5, 1) for i in range(5)]
    df = spark.createDataFrame(ring, "src long, dst long, weight long")
    scores = {r["score"] for r in pagerank(df, iters=7).collect()}
    assert len(scores) == 1  # symmetry => identical fixed-point scores


def test_pagerank_mass_bound(spark, edges_df):
    """Mass only leaks (dangling node + per-edge flooring): the total
    stays within [n*base, n*scale] at every iteration count."""
    n = 4
    base = pagerank_base(SCALE, 85, 100)
    for it in (1, 3, 6):
        total = sum(r["score"] for r in pagerank(edges_df, iters=it).collect())
        assert n * base <= total <= n * SCALE


def test_pagerank_plan_constant_in_iterations(spark, edges_df,
                                              monkeypatch):
    """localCheckpoint cuts lineage: the relational program's final plan
    must not grow with (or even reference) the K-times-unrolled join
    chain."""
    monkeypatch.setattr(graph, "_KERNEL_EDGES", -1)
    plan = (
        pagerank(edges_df, iters=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan  # just the checkpointed RDD scan


def test_pagerank_rejects_zero_iters(spark, edges_df):
    with pytest.raises(ValueError):
        pagerank(edges_df, iters=0)


# small weighted digraphs: self-loops, duplicate edges, sinks, chains
# and the empty graph
_GRAPHS = st.one_of(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9),
                       st.integers(1, 5)), max_size=25),
    st.integers(1, 12).map(lambda n: [(i, i + 1, 1 + i % 3)
                                      for i in range(n)]),
)


def _graph_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long, weight long")


@settings(max_examples=4, deadline=None)
@example([])
@example([(0, 1, 2), (1, 2, 1), (2, 2, 4), (0, 1, 2), (3, 0, 1)])
@given(_GRAPHS)
def test_pagerank_kernel_equals_relational(spark, graph_paths, edges):
    df = _graph_df(spark, edges)
    got = graph_paths(lambda: {r["node"]: r["score"]
                               for r in pagerank(df, iters=3).collect()},
                      has_edges=bool(edges))
    assert got == [_py_pagerank(edges, iters=3)] * 2


_LO, _HI = -(1 << 63), (1 << 63) - 1


def test_kernel_arithmetic_is_ansi_bigint():
    """The kernels' BIGINT helpers against Python ints: exact wherever
    the result fits, raising wherever Spark ANSI raises."""
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 4, 64)
    x = rng.integers(0, 1 << 58, 64)   # group sums pass 2^32, fit 2^63
    want = [sum(int(v) for v, k in zip(x, keys) if k == g)
            for g in range(4)]
    assert graph._sum(keys, x, 4).tolist() == want
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        graph._sum(np.zeros(2, np.int64), np.array([_HI, 1]), 1)

    pairs = [(_LO, -1), (-1, _LO), (_LO, 1), (1 << 32, 1 << 31),
             (1 << 32, (1 << 31) - 1), (-(1 << 32), 1 << 31), (0, _LO),
             (3037000500, 3037000500), (3037000499, -3037000499)]
    pairs += [(int(a), int(b)) for a, b in zip(
        rng.integers(_LO, _HI, 32), rng.integers(-(1 << 40), 1 << 40, 32))]
    for a, b in pairs:
        if _LO <= a * b <= _HI:
            assert graph._mul(np.array([a]), np.array([b]))[0] == a * b
        else:
            with pytest.raises(ArithmeticError,
                               match="ARITHMETIC_OVERFLOW"):
                graph._mul(np.array([a]), np.array([b]))

    # Spark's div truncates toward zero
    got = graph._div(np.array([-7, 7, -7, 7, _LO]),
                     np.array([2, -2, -2, 2, 1]))
    assert got.tolist() == [-3, -3, 3, 3, _LO]
    with pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        graph._div(np.array([5]), np.array([0]))
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        graph._div(np.array([_LO]), np.array([-1]))


def test_pagerank_overflow_raises_on_both_paths(spark, graph_paths):
    # score * weight = 2^20 * 2^50 leaves BIGINT in the first round
    df = _graph_df(spark, [(1, 2, 1 << 50), (2, 1, 1)])

    def run():
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            pagerank(df, iters=1).collect()
    graph_paths(run)


def test_degrees(spark, edges_df):
    got = {
        r["node"]: (r["out_deg"], r["in_deg"], r["out_weight"], r["in_weight"])
        for r in degrees(edges_df).collect()
    }
    assert got == {
        1: (2, 1, 4, 5),
        2: (2, 1, 3, 3),
        3: (2, 2, 7, 3),
        4: (0, 2, 0, 3),
    }


def test_event_edges(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 7 -> 7 (self-loop, dropped) -> 9; same-ts tie broken
        # by event_id (events 2,3 share ts: 7 -> 9, not 9 -> 7)
        (0, t0, 1, '{"k": 7}'),
        (1, t0 + dt.timedelta(seconds=1), 1, '{"k": 7}'),
        (2, t0 + dt.timedelta(seconds=2), 1, '{"k": 7}'),
        (3, t0 + dt.timedelta(seconds=2), 1, '{"k": 9}'),
        # user 2: 9 -> 7 -> 5 (one chain, two distinct edges)
        (4, t0, 2, '{"k": 9}'),
        (5, t0 + dt.timedelta(seconds=1), 2, '{"k": 7}'),
        (6, t0 + dt.timedelta(seconds=2), 2, '{"k": 5}'),
        # user 3: another 9 -> 7 (weight accumulates across users)
        (7, t0, 3, '{"k": 9}'),
        (8, t0 + dt.timedelta(seconds=1), 3, '{"k": 7}'),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, props string")
    got = {(r["src"], r["dst"]): r["weight"]
           for r in event_edges(df).collect()}
    assert got == {(7, 9): 1, (9, 7): 2, (7, 5): 1}


# --------------------------------------------------------- html links

def test_html_link_edges_resolution_and_weights(spark):
    from origami_spark.operators.graph import html_link_edges

    html_a = (b'<a href="/x">1</a> <a href="/x">2</a> '
              b'<a href="https://other.net/p#frag">3</a> '
              b'<a href="mailto:a@b.c">4</a> <a href="">5</a> '
              b'<a href="rel/path">6</a> <a href="/a">self</a>')
    html_b = b'<a href="http://a.com/x">abs</a> <a href="/only#f">rel</a>'
    pages = spark.createDataFrame(
        [("https://a.com/a", html_a), ("http://b.org/b", html_b)],
        "url string, html binary")
    got = {(r["src"], r["dst"]): r["weight"]
           for r in html_link_edges(pages).collect()}
    assert got == {
        ("https://a.com/a", "https://a.com/x"): 2,
        ("https://a.com/a", "https://other.net/p"): 1,
        ("http://b.org/b", "http://a.com/x"): 1,
        ("http://b.org/b", "http://b.org/only"): 1,
    }


def test_html_link_edges_drops_self_loop(spark):
    from origami_spark.operators.graph import html_link_edges

    pages = spark.createDataFrame(
        [("https://a.com/a", b'<a href="/a">me</a> <a href="https://a.com/a">me2</a>')],
        "url string, html binary")
    assert html_link_edges(pages).count() == 0


def test_html_link_edges_no_python_udf(spark):
    from origami_spark.operators.graph import html_link_edges

    pages = spark.createDataFrame([("https://a.com/a", b"<a href=\"/x\">l</a>")],
                                  "url string, html binary")
    plan = html_link_edges(pages)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_anchor_texts(spark):
    from origami_spark.operators.graph import html_anchor_texts

    html = (b'<a href="/x">First  Link</a>'
            b'<a class="z" href="https://o.net/p#f">with\n tabs\there</a>'
            b'<a href="/empty"></a>'
            b'<a href="/a">self</a>'
            b'<a href="/nested"><b>bold</b> tail</a>'
            b'<a href="/x">First  Link</a>')
    pages = spark.createDataFrame([("https://a.com/a", html)],
                                  "url string, html binary")
    got = sorted((r["dst"], r["anchor"])
                 for r in html_anchor_texts(pages).collect())
    # nested-markup label yields only the pre-tag text and this one is
    # empty -> dropped; duplicates preserved; whitespace normalized
    assert got == [
        ("https://a.com/x", "First Link"),
        ("https://a.com/x", "First Link"),
        ("https://o.net/p", "with tabs here"),
    ]


def test_anchor_topk_two_level_equals_single_window(spark):
    from pyspark.sql import Window, functions as F

    from origami_spark.operators.graph import anchor_topk

    rows = []
    # dst "hot": anchors a0..a9 with counts 10..1; dst "cold": one
    for i in range(10):
        rows += [("hot", f"a{i}")] * (10 - i)
    rows.append(("cold", "only"))
    anchors = spark.createDataFrame(
        [("s", d, a) for d, a in rows], "src string, dst string, anchor string")

    got = sorted(map(tuple, anchor_topk(anchors, k=3, salt=4).collect()))
    # oracle-form single window over the same counts
    c = anchors.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("anchor"))
    want = sorted(map(tuple, (
        c.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3).collect())))
    assert got == want
    assert ("hot", "a0", 10, 1) in got and ("cold", "only", 1, 1) in got
    # partition independence
    again = sorted(map(tuple, anchor_topk(
        anchors.repartition(7), k=3, salt=4).collect()))
    assert again == got


def test_anchor_topk_tie_breaks_by_anchor(spark):
    from origami_spark.operators.graph import anchor_topk

    anchors = spark.createDataFrame(
        [("s", "d", a) for a in ["zz", "aa", "mm"]],
        "src string, dst string, anchor string")
    got = [(r["anchor"], r["rk"]) for r in
           sorted(anchor_topk(anchors, k=2).collect(), key=lambda r: r["rk"])]
    assert got == [("aa", 1), ("mm", 2)]  # equal counts: lexicographic


def test_host_edges_rollup(spark):
    from origami_spark.operators.graph import host_edges

    edges = spark.createDataFrame([
        ("https://a.com/1", "https://b.net/x", 2),
        ("https://a.com/2", "https://b.net/y", 3),   # same host pair: sums
        ("https://a.com/1", "https://a.com/2", 9),   # intra-site: dropped
        ("https://A.COM/3", "https://c.org/z", 1),   # host lower-cases
        ("not-a-url", "https://b.net/x", 5),         # empty host: dropped
    ], "src string, dst string, weight bigint")
    got = sorted(map(tuple, host_edges(edges).collect()))
    assert got == [("a.com", "b.net", 5), ("a.com", "c.org", 1)]
    again = sorted(map(tuple, host_edges(edges.repartition(4)).collect()))
    assert again == got


def test_uppercase_anchors_and_hrefs(spark):
    from origami_spark.operators.graph import html_anchor_texts, html_link_edges

    html = b'<A HREF="/x">Shouty Link</A> <p HREF="/y">not-an-anchor-el</p>'
    pages = spark.createDataFrame([("https://a.com/a", html)],
                                  "url string, html binary")
    anchors = [(r["dst"], r["anchor"])
               for r in html_anchor_texts(pages).collect()]
    assert anchors == [("https://a.com/x", "Shouty Link")]
    edges = {(r["src"], r["dst"]) for r in html_link_edges(pages).collect()}
    # link_edges harvests every HREF attribute, tag-agnostic by design
    assert edges == {("https://a.com/a", "https://a.com/x"),
                     ("https://a.com/a", "https://a.com/y")}


def _py_hits(edges, iters, scale=1 << 16):
    """Independent HITS reference: same integer max-norm recurrence,
    plain dicts."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(iters):
        a_raw = {}
        for s, d, w in edges:
            a_raw[d] = a_raw.get(d, 0) + hub.get(s, 0) * w
        mx = max(a_raw.values())
        auth = {n: (v * scale) // mx for n, v in a_raw.items()}
        h_raw = {}
        for s, d, w in edges:
            h_raw[s] = h_raw.get(s, 0) + auth.get(d, 0) * w
        mx = max(h_raw.values())
        hub = {n: (v * scale) // mx for n, v in h_raw.items()}
    return {n: (hub.get(n, 0), auth.get(n, 0)) for n in nodes}


def test_hits_matches_integer_reference(spark, edges_df):
    from origami_spark.operators.graph import hits

    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(edges_df, iters=4).collect()}
    assert got == _py_hits(EDGES, iters=4)
    # max-norm invariant: the best hub and best authority sit at scale
    assert max(h for h, _a in got.values()) == 1 << 16
    assert max(a for _h, a in got.values()) == 1 << 16


def test_hits_partition_invariance(spark, edges_df):
    from origami_spark.operators.graph import hits

    a = sorted(map(tuple, hits(edges_df, iters=2).collect()))
    b = sorted(map(tuple, hits(edges_df.repartition(5), iters=2).collect()))
    assert a == b


@settings(max_examples=4, deadline=None)
@example([])
@example([(0, 1, 2), (1, 2, 1), (2, 2, 4), (0, 1, 2), (3, 0, 1)])
@given(_GRAPHS)
def test_hits_kernel_equals_relational(spark, graph_paths, edges):
    df = _graph_df(spark, edges)
    got = graph_paths(lambda: {r["node"]: (r["hub"], r["authority"])
                               for r in hits(df, iters=2).collect()},
                      has_edges=bool(edges))
    assert got == [_py_hits(edges, iters=2) if edges else {}] * 2


def test_hits_overflow_raises_on_both_paths(spark, graph_paths):
    # hub * weight = 2^16 * 2^40 fits; authority * scale = 2^56 * 2^16
    # leaves BIGINT at the max-norm
    df = _graph_df(spark, [(1, 2, 1 << 40), (2, 1, 1)])

    def run():
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            hits(df, iters=1).collect()
    graph_paths(run)
