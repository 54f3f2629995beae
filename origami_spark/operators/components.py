"""Connected components over candidate-pair graphs.

The near-dup operators (``minhash_lsh_candidates``, ``simhash_near_dups``,
``embedding_near_dups_lsh``, ``substring_dup_pairs``) emit candidate
PAIRS — the LSH ones through ``dedup._band_pairs``, each pair once
unless ``max_bucket`` caps a bucket; the keep-one dedup decision needs
duplicate CLUSTERS.
``connected_components`` turns a pair list into a (node, component)
labeling where the component id is the smallest node id reachable
through the pairs — the transitive cluster-and-keep-one semantics the
dedup literature applies (Lee et al. 2022 §4; the ccnet/SlimPajama
pipelines): a chain a~b, b~c is ONE cluster even when a and c never
share a band.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii: "Connected Components in MapReduce
and Beyond", ACM SoCC 2014).  Each round is a per-node min (one
shuffle) plus an edge rewire join (same key, reused exchange); the
edge set converges to a union of stars centered at component minima in
O(log^2 n) rounds w.h.p. — a 4096-node path takes ~12 rounds where
naive min-label propagation needs ~4096.  Scale notes for the 100 TB
bar: the canonical edge count picks the plan — no edges, no further
job; up to ``graph._KERNEL_EDGES`` edges one task labels them in numpy
(:func:`_min_labels`); above it the star rounds run.  Every round
keys on node id; large-star's defining property is
that it SPLITS high-degree stars, so no round concentrates a
component on one task; the only driver traffic is a per-round
convergence checksum (count + hash sums — the classic iterative-
algorithm shape, like the IVF trainer loop).  Lineage is truncated
every round with ``session.checkpoint``, owned by the caller's
``cache_scope()`` (``reliable=True`` on a lossy cluster, so a lost
executor cannot force a from-scratch recompute).

Reference parity: the reference engine (per-page layout analysis) has
no graph operator; this closes the loop for the grafted dedup family,
whose banding operators were documented as feeding "the connected-
component consumer" (operators/dedup.py:minhash_lsh_candidates) that
this module provides.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..session import checkpoint
from . import graph


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(src, dst) pairs -> distinct canonical (u < v) bigint edges;
    self-loops and NULL endpoints drop (a NULL id is not a node)."""
    u = F.col(src).cast("bigint")
    v = F.col(dst).cast("bigint")
    return (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor v to
    m = min(N(u) + {u}).  Emitted edges are (m, v) with m < v, already
    canonical.  Identity on min-centered stars."""
    nbr = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbr.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        nbr.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For every node a and its strictly-smaller neighbors S (every
    canonical edge's larger endpoint sees all its neighbors in S):
    connect each x in S + {a} to m = min(S).  Identity on min-centered
    stars."""
    m = e.groupBy("v").agg(F.min("u").alias("m"))
    center = m.select(F.col("m").alias("u"), F.col("v").alias("v"))
    leaves = (
        e.join(m, "v")
        .filter(F.col("u") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("u").alias("v"))
    )
    return center.unionByName(leaves).distinct()


def _min_labels(u, v):
    """Each node's smallest reachable id, in numpy: every root hooks to
    the smallest root across its edges, pointer jumping flattens the
    forest, and at the fixed point each component is one tree rooted
    at its minimum (node ids sort with their index)."""
    node, a, b = graph._node_index(u, v)
    lab = np.arange(len(node))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, lab[a], lab[b])
        np.minimum.at(lab, lab[b], lab[a])
        while (lab != lab[lab]).any():
            lab = lab[lab]
        if (lab == prev).all():
            return node, node[lab]


def _checksum(e: DataFrame) -> tuple:
    """Canonical edge-set fingerprint: row count plus order-free sums of
    a 64-bit row hash and both endpoints.  One scalar row to the driver
    per round — the convergence probe, not a data collect."""
    dec = "decimal(38,0)"  # int64 sums overflow under ANSI mode
    row = e.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("u", "v").cast(dec)),
        F.sum(F.col("u").cast(dec)),
        F.sum(F.col("v").cast(dec)),
    ).collect()[0]
    return tuple(row)


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", nodes: DataFrame | None = None,
                         node_col: str = "doc_id", max_iter: int = 50,
                         reliable: bool = False) -> DataFrame:
    """Label every node with the smallest node id reachable through
    ``edges``.  Returns (``node_col`` bigint, ``component`` bigint);
    when ``nodes`` is given (a frame carrying ``node_col``), isolated
    nodes appear labeled by themselves — the full-corpus keep-one
    shape: keep exactly the rows where node == component.

    Deterministic: min-based throughout, no randomness.  Raises
    RuntimeError if the edge set has not converged after ``max_iter``
    alternating rounds (paper bound: O(log^2 n) w.h.p. — 50 covers any
    realistic corpus; never silently mislabels; the in-task kernel
    has no round bound).  ``reliable=True``
    uses reliable checkpoints (requires ``setCheckpointDir``) instead
    of executor-local ones."""
    def cut(df):
        return df.checkpoint(eager=True) if reliable else checkpoint(df)

    e = cut(_canonical_edges(edges, src, dst))
    n_edges = e.count()
    if n_edges == 0:
        out = e.select(F.col("u").alias(node_col),
                       F.col("v").alias("component"))
    elif n_edges <= graph._KERNEL_EDGES:
        out = checkpoint(graph._in_task(
            e, f"{node_col} bigint, component bigint", _min_labels))
    else:
        prev = _checksum(e)
        converged = False
        for _ in range(max_iter):
            e = cut(_small_star(_large_star(e)))
            cur = _checksum(e)
            converged = cur == prev
            prev = cur
            if converged:
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds (edge checksum still moving: {prev}) — raise "
                f"max_iter")
        nbr = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lab = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("component"))
        out = checkpoint(lab.select(F.col("u").alias(node_col), "component"))
    if nodes is None:
        return out
    base = nodes.select(F.col(node_col).cast("bigint").alias(node_col)) \
        .filter(F.col(node_col).isNotNull()).distinct()
    return (
        base.join(out, node_col, "left")
        .select(
            node_col,
            F.coalesce("component", F.col(node_col)).alias("component"),
        )
    )


def keep_one_per_component(docs: DataFrame, pairs: DataFrame,
                           id_col: str = "doc_id", src: str = "doc_a",
                           dst: str = "doc_b",
                           max_iter: int = 50) -> DataFrame:
    """The dedup APPLICATION: drop every doc that is not its near-dup
    cluster's minimum id.  Docs in no pair survive untouched.  Unlike
    the greedy any-pair drop (keep rows never appearing as the larger
    side of a pair), this keeps exactly ONE doc per connected cluster:
    with edges b~c and a~c (a<b<c), greedy keeps both a and b — two
    mutual near-dups-by-transitivity — while this keeps only a."""
    comp = connected_components(pairs, src=src, dst=dst,
                                node_col=id_col, max_iter=max_iter)
    drop = comp.filter(F.col(id_col) != F.col("component")) \
        .select(id_col)
    return docs.join(drop, id_col, "left_anti")
