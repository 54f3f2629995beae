"""The one LSH band-pair join (``operators.dedup._band_pairs``) against a
pure-Python reference, and every LSH family's signing kernel read
from its cache."""

from collections import Counter

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from __spark_entry__ import SF_DEFAULT as SF
from origami_spark.operators import dedup, multimodal
from origami_spark.operators.dedup import _band_cols, _band_pairs

# (keys per item, hot items): few key values, so every band holds
# duplicate keys; the hot items share one band-0 bucket
_TABLES = st.integers(1, 3).flatmap(lambda bands: st.tuples(
    st.lists(st.lists(st.integers(0, 2), min_size=bands, max_size=bands),
             min_size=2, max_size=9),
    st.lists(st.lists(st.integers(0, 2), min_size=bands - 1,
                      max_size=bands - 1), min_size=3, max_size=6)))


def _rows(spark, keys, first_id):
    """Builder rows for items ``first_id, first_id + 1, …`` with the
    given band keys and payload ``p = 10 * id``."""
    items = [(first_id + i, k, 10 * (first_id + i))
             for i, k in enumerate(keys)]
    return spark.createDataFrame(
        items, "id bigint, keys array<bigint>, p bigint",
    ).select(*_band_cols("id", [f"keys[{i}]" for i in range(len(keys[0]))],
                         "p"))


def _shared(ka, kb):
    return [b for b, (x, y) in enumerate(zip(ka, kb)) if x == y]


def _got(pairs):
    rows = pairs.collect()
    assert all(r["p_a"] == 10 * r["id_a"] and r["p_b"] == 10 * r["id_b"]
               for r in rows)
    return Counter((r["id_a"], r["id_b"]) for r in rows)


@settings(max_examples=8, deadline=None)
@given(_TABLES, st.integers(1, 4))
def test_band_pairs_equal_reference(spark, table, cap):
    plain, hot = table
    keys = plain + [[99] + k for k in hot]       # planted hot bucket
    items = dict(enumerate(keys))
    rows = _rows(spark, keys, 0)

    # uncapped self-join: each pair sharing a band, exactly once
    want = Counter((i, j) for i in items for j in items
                   if i < j and _shared(items[i], items[j]))
    assert _got(_band_pairs(rows, None, None)) == want

    # without key arrays: once per shared band, for the caller to dedupe
    want = Counter({(i, j): len(_shared(items[i], items[j]))
                    for i in items for j in items if i < j})
    assert _got(_band_pairs(rows.drop("keys"), None, None)) == +want

    # capped self-join: a bucket above the cap emits star pairs against
    # its min id, once per band
    want = Counter()
    for band in range(len(keys[0])):
        buckets = {}
        for i, k in items.items():
            buckets.setdefault(k[band], []).append(i)
        for members in buckets.values():
            if len(members) > cap:
                want.update((min(members), m) for m in members
                            if m != min(members))
            else:
                want.update((i, j) for i in members for j in members
                            if i < j)
    assert _got(_band_pairs(rows, None, cap)) == want

    # cross-join: every (a, b) pair sharing a band, exactly once; ids
    # overlap, and an item never pairs with its own id
    other = dict(enumerate(reversed(keys), start=len(keys) // 2))
    b = _rows(spark, list(other.values()), len(keys) // 2)
    want = Counter((i, j) for i in items for j in other
                   if i != j and _shared(items[i], other[j]))
    assert _got(_band_pairs(rows, F.broadcast(b), None)) == want


def _nodes(plan, seen, inside=False):
    """``(class name, inside a cached plan)`` for every node of an
    executed plan, through AQE stages; a cached relation is walked once
    however many scans read it, and a reused exchange where it runs."""
    name = plan.getClass().getSimpleName()
    yield name, inside
    if name == "InMemoryRelation":
        builder = plan.cacheBuilder()
        if any(builder.equals(b) for b in seen):
            return
        seen.append(builder)
        inner, inside = [plan.cachedPlan()], True
    elif name == "AdaptiveSparkPlanExec":
        inner = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        inner = [plan.plan()]
    elif name == "InMemoryTableScanExec":
        inner = [plan.relation()]
    elif name == "ReusedExchangeExec":
        inner = []
    else:
        inner = [plan.children().apply(i)
                 for i in range(plan.children().size())]
    for child in inner:
        yield from _nodes(child, seen, inside)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _media(spark):
    return multimodal.media_from_documents(_docs(spark)).select(
        "media_id", "kind", "payload")


@pytest.mark.parametrize("op, kernel", [
    (lambda s: dedup.minhash_lsh_candidates(
        _docs(s), min_sig_agreement=0.5, max_bucket=128), "MapInPandasExec"),
    (lambda s: dedup.minhash_lsh_candidates(_docs(s), min_sig_agreement=0.5),
     "MapInPandasExec"),
    (lambda s: dedup.simhash_near_dups(_docs(s), max_hamming=6),
     "MapInPandasExec"),
    (lambda s: multimodal.media_near_dups(_media(s)), "MapInPandasExec"),
    (lambda s: dedup.embedding_near_dups_lsh(
        s.read.parquet(f"{SF}/embeddings.parquet"), threshold=0.3,
        planes=4, tables=4), "ArrowEvalPythonExec"),
], ids=["minhash_capped", "minhash", "simhash", "media", "embedding"])
def test_signing_kernel_runs_once_inside_its_cache(spark, op, kernel):
    """Every reader of an LSH family's signature rows scans one cached
    relation, and the signing kernel runs only inside it: the self-join
    re-signs nothing."""
    from origami_spark.session import cache_scope

    with cache_scope():
        df = op(spark)
        df.collect()
        seen = []
        nodes = list(_nodes(df._jdf.queryExecution().executedPlan(), seen))
    assert len(seen) == 1
    assert [inside for name, inside in nodes if name == kernel] == [True]
    assert sum(name == "InMemoryTableScanExec" for name, _ in nodes) >= 2
