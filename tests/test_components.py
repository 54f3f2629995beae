"""Connected components over candidate pairs: correctness vs a
union-find oracle, log-round convergence, cluster keep-one semantics."""

import random
from unittest import mock

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from origami_spark.operators import components, graph
from origami_spark.operators.components import (
    connected_components,
    keep_one_per_component,
)


def _union_find(nodes, edges):
    """Min-id component labels the slow, obviously-correct way."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges] or [(None, None)],
        "doc_a bigint, doc_b bigint")


def _labels(df):
    return {r["doc_id"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("seed,n,m", [(1, 60, 40), (2, 60, 90), (3, 40, 12)])
def test_matches_union_find_on_random_graphs(spark, seed, n, m):
    rng = random.Random(seed)
    nodes = list(range(n))
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    got = _labels(connected_components(
        _edges_df(spark, edges),
        nodes=spark.createDataFrame([(x,) for x in nodes], "doc_id bigint")))
    want = _union_find(nodes, [(a, b) for a, b in edges if a != b])
    assert got == want


def test_path_graph_converges_in_log_rounds(spark, monkeypatch):
    """A 256-node path is the adversarial case for naive min-label
    propagation (~256 rounds to drag 0 to the far end).  The
    alternating-star algorithm must finish within its O(log^2 n) bound
    — a 20-round bound both enforces that and proves the labels
    exact."""
    monkeypatch.setattr(graph, "_KERNEL_EDGES", -1)
    monkeypatch.setattr(components, "_MAX_ROUNDS", 20)
    edges = [(i, i + 1) for i in range(255)]
    got = _labels(connected_components(_edges_df(spark, edges)))
    assert got == {i: 0 for i in range(256)}


def test_two_components_and_isolated_nodes(spark):
    edges = [(10, 11), (11, 12), (20, 21)]
    nodes = spark.createDataFrame(
        [(x,) for x in (10, 11, 12, 20, 21, 30)], "doc_id bigint")
    got = _labels(connected_components(_edges_df(spark, edges), nodes=nodes))
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_self_loops_duplicates_reversals_and_nulls_ignored(spark):
    edges_df = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2), (None, 3), (4, None)],
        "doc_a bigint, doc_b bigint")
    nodes = spark.createDataFrame([(x,) for x in (1, 2, 5)],
                                  "doc_id bigint")
    got = _labels(connected_components(edges_df, nodes=nodes))
    # the self-loop and NULL-endpoint rows contribute no connectivity
    assert got == {1: 1, 2: 1, 5: 5}


def test_empty_edges_all_singletons(spark):
    nodes = spark.createDataFrame([(x,) for x in range(5)], "doc_id bigint")
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    with mock.patch.object(graph, "_in_task",
                           wraps=graph._in_task) as kernel:
        got = _labels(connected_components(empty, nodes=nodes))
        # and without a nodes frame the result is simply empty
        assert connected_components(empty).count() == 0
    assert got == {i: i for i in range(5)}
    # no edges, no kernel job
    assert not kernel.called


def test_deterministic_across_runs(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(70)]
    a = _labels(connected_components(_edges_df(spark, edges)))
    b = _labels(connected_components(_edges_df(spark, edges)))
    assert a == b


def test_keep_one_per_component_is_transitive(spark):
    """Chain clusters collapse to ONE survivor: with b~c and a~c
    (a<b<c), the greedy any-pair drop keeps both a and b (b never
    appears as a pair's larger side) — the component keep-one keeps
    only a."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "solo")],
        "doc_id bigint, text string")
    pairs = _edges_df(spark, [(2, 3), (1, 3)])
    kept = sorted(r["doc_id"]
                  for r in keep_one_per_component(docs, pairs).collect())
    assert kept == [1, 9]
    # the greedy rule would keep [1, 2, 9] — the transitivity hole
    greedy = sorted(
        r["doc_id"]
        for r in docs.join(pairs.select(F.col("doc_b").alias("doc_id"))
                           .distinct(), "doc_id", "left_anti").collect())
    assert greedy == [1, 2, 9]


def test_star_capped_candidates_resolve_to_one_component(spark):
    """Integration with the hot-bucket star cap: a boilerplate cluster
    whose bucket exceeds max_bucket emits star edges (member ~ bucket
    min) instead of all pairs — exactly enough connectivity for the
    component consumer to still see ONE cluster."""
    from origami_spark.operators.dedup import minhash_lsh_candidates

    text = "the same boilerplate page body repeated verbatim every time"
    docs = spark.createDataFrame(
        [(i, text) for i in range(8)] + [(100, "an unrelated document "
                                          "about entirely different things")],
        "doc_id bigint, text string")
    cand = minhash_lsh_candidates(docs, n=3, k=16, bands=4, max_bucket=3)
    got = _labels(connected_components(
        cand, nodes=docs.select("doc_id")))
    assert got == {**{i: 0 for i in range(8)}, 100: 100}


def test_unconverged_raises(spark, monkeypatch):
    monkeypatch.setattr(graph, "_KERNEL_EDGES", -1)
    monkeypatch.setattr(components, "_MAX_ROUNDS", 1)
    edges = [(i, i + 1) for i in range(64)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges_df(spark, edges))


def test_reliable_checkpoints_label_like_local(spark, monkeypatch,
                                               tmp_path):
    """``reliable=True`` (fault recovery on a lossy cluster) cuts every
    relational round with a reliable checkpoint instead of a local one;
    the labels must not change, and the checkpoint files must land in
    the context's checkpoint dir."""
    monkeypatch.setattr(graph, "_KERNEL_EDGES", -1)
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    edges = _edges_df(spark, [(i, i + 1) for i in range(20)]
                      + [(30, 31), (31, 32)])
    local = _labels(connected_components(edges))
    assert not ckpt.exists() or not any(ckpt.rglob("part-*"))
    reliable = _labels(connected_components(edges, reliable=True))
    assert reliable == local
    assert local == {**{i: 0 for i in range(21)}, 30: 30, 31: 30, 32: 30}
    assert any(ckpt.rglob("part-*"))


_ID = st.one_of(st.none(), st.integers(0, 9))


# pairs with NULL endpoints, self-loops, duplicates and reversals, or a
# chain; nodes 10 and 11 are always isolated
@settings(max_examples=4, deadline=None)
@example([])
@example([(3, 2), (2, 1), (1, 0), (5, None), (7, 7), (8, 9), (9, 8)])
@given(st.one_of(st.lists(st.tuples(_ID, _ID), max_size=25),
                 st.integers(1, 9).map(
                     lambda n: [(i + 1, i) for i in range(n)])))
def test_kernel_equals_relational(spark, graph_paths, edges):
    nodes = list(range(12))
    nodes_df = spark.createDataFrame([(x,) for x in nodes], "doc_id bigint")
    real = [(a, b) for a, b in edges if None not in (a, b) and a != b]
    got = graph_paths(lambda: _labels(connected_components(
        _edges_df(spark, edges), nodes=nodes_df)), has_edges=bool(real))
    assert got == [_union_find(nodes, real)] * 2


def test_extreme_ids_on_both_paths(spark, graph_paths):
    """Labels are ids, never arithmetic on them: the BIGINT extremes
    come back unchanged on both plans."""
    lo, hi = -(1 << 63), (1 << 63) - 1
    got = graph_paths(lambda: _labels(connected_components(
        _edges_df(spark, [(hi, lo), (0, hi), (lo + 1, lo)]))))
    assert got == [{lo: lo, hi: lo, 0: lo, lo + 1: lo}] * 2
