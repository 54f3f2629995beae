"""session.cache / session.checkpoint / cache_scope: the caller-owned
lifetime of every cached intermediate and lineage cut, and the scan
that keeps raw caching and checkpointing out of the engine."""

import ast
import itertools
import re
import threading
from pathlib import Path

import pytest
from pyspark import StorageLevel

from origami_spark.session import cache, cache_scope, checkpoint

_ROOT = Path(__file__).resolve().parents[1]
# distinct plans: the cache manager matches frames by plan, so two
# identical spark.range(n) frames would share one cache entry
_SIZES = itertools.count(101)


def _frame(spark):
    return spark.range(next(_SIZES))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _held(ckpt) -> bool:
    """Whether the blocks under checkpoint ``ckpt`` are still held."""
    rdd_id = ckpt._jdf.queryExecution().logical().rdd().id()
    return ckpt.sparkSession.sparkContext._jsc.getPersistentRDDs() \
        .containsKey(rdd_id)


class _Boom(Exception):
    pass


def _live(pair) -> bool:
    """A (cached frame, checkpoint) pair: whether either is still held."""
    df, ck = pair
    return _cached(df) or _held(ck)


def _both(spark):
    return cache(_frame(spark)), checkpoint(_frame(spark))


def test_scope_releases_on_normal_and_exception_exit(spark):
    with cache_scope():
        a = cache(_frame(spark))
        b = _frame(spark).transform(cache)
        ck = _frame(spark).transform(checkpoint)
        assert _cached(a) and _cached(b) and _held(ck)
    assert not _cached(a) and not _cached(b) and not _held(ck)

    err = _Boom("mid-block failure")
    with pytest.raises(_Boom) as raised:
        with cache_scope():
            c = _both(spark)
            raise err
    assert raised.value is err
    assert not _live(c)


def test_checkpoint_replaces_the_frames_cache(spark):
    with cache_scope():
        df = cache(_frame(spark))
        n = df.count()
        ck = checkpoint(df)
        assert not _cached(df) and _held(ck)   # one copy in storage
        assert ck.count() == n


def test_failed_unpersist_neither_masks_nor_skips(spark):
    class _DeadFrame:
        def cache(self):
            return self

        def unpersist(self):
            raise RuntimeError("session is gone")

    err = _Boom("root cause")
    with pytest.raises(_Boom) as raised:
        with cache_scope():
            a = cache(_frame(spark))
            cache(_DeadFrame())
            b = cache(_frame(spark))
            raise err
    assert raised.value is err
    assert not _cached(a) and not _cached(b)


def test_no_scope_keeps_the_session_cache(spark):
    df, ck = _both(spark)
    try:
        with cache_scope():
            pass
        assert _cached(df) and _held(ck)
    finally:
        df.unpersist()
        ck._jdf.queryExecution().logical().rdd().unpersist(True)


def test_inner_scope_releases_only_its_own_frames(spark):
    with cache_scope():
        outer = _both(spark)
        with cache_scope():
            inner = _both(spark)
        assert not _live(inner)
        assert _cached(outer[0]) and _held(outer[1])
        after = _both(spark)   # back in the outer scope
    assert not _live(outer) and not _live(after)


def test_scopes_are_per_thread(spark):
    """Two threads share one session, their scopes interleaved: A opens,
    B opens and caches and checkpoints, A does the same and exits.
    A's exit releases exactly A's frames; B's stay held until B's own
    exit (a process-global registry drained by A would drop both)."""
    a_open, b_cached, a_done = (threading.Event() for _ in range(3))
    seen = {}

    def thread_a():
        with cache_scope():
            a_open.set()
            assert b_cached.wait(60)
            seen["a"] = _both(spark)
        seen["a_after_exit"] = _live(seen["a"])
        seen["b_after_a_exit"] = _cached(seen["b"][0]) and _held(seen["b"][1])
        a_done.set()

    def thread_b():
        assert a_open.wait(60)
        with cache_scope():
            seen["b"] = _both(spark)
            b_cached.set()
            assert a_done.wait(60)

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
        assert not t.is_alive()
    assert seen["a_after_exit"] is False
    assert seen["b_after_a_exit"] is True
    assert not _live(seen["b"])


_RAW = ("cache", "persist", "localCheckpoint", "checkpoint")
# the raw checkpoints that deliberately outlive any cache_scope()
_RAW_OK = {
    ("origami_spark/operators/graph.py", "localCheckpoint"):
        "pagerank and hits return a checkpoint cut inside their own scope",
    ("origami_spark/operators/bpe.py", "localCheckpoint"):
        "one per merge round, left to Spark's cleaner once the next "
        "round replaces it instead of pinned until the scope exits",
    ("origami_spark/streaming/corpus.py", "localCheckpoint"):
        "the micro-batch survivors leave the near-dup scope and are "
        "written by the caller after it has closed",
    ("origami_spark/operators/components.py", "checkpoint"):
        "reliable=True: a reliable checkpoint is files in the "
        "checkpoint dir, not blocks a scope could release",
}


def _raw_calls(path: Path):
    tree = ast.parse(path.read_text(), str(path))
    rel = path.relative_to(_ROOT).as_posix()
    return [(rel, node.func.attr, node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _RAW]


def test_engine_caches_only_through_session():
    """Every cache and checkpoint in the engine, the gates and the jobs
    goes through session.cache / session.checkpoint, so some
    cache_scope() can own it — except the allowlisted raw checkpoints,
    each of which the scan must still find."""
    session = _ROOT / "origami_spark" / "session.py"
    files = [p for d in ("origami_spark", "gates", "jobs")
             for p in sorted((_ROOT / d).rglob("*.py")) if p != session]
    assert len(files) > 50
    hits = [hit for p in files for hit in _raw_calls(p)]
    assert [h for h in hits if h[:2] not in _RAW_OK] == []
    assert {h[:2] for h in hits} == set(_RAW_OK)
    # the scan does see session.py's own raw calls
    assert {h[1] for h in _raw_calls(session)} == {"cache", "localCheckpoint"}


def _conf_writes(tree) -> list:
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"]


def test_engine_never_writes_session_conf():
    """No operator, gate or job rewrites a session-wide setting: a
    ``conf.set`` / ``conf.unset`` made for one query changes the plan
    of every query that overlaps it on the session."""
    assert _conf_writes(ast.parse('spark.conf.set("k", "1")\n'
                                  'e.sparkSession.conf.unset("k")')) == [1, 2]
    files = [p for d in ("origami_spark", "gates", "jobs")
             for p in sorted((_ROOT / d).rglob("*.py"))]
    writes = [(p.relative_to(_ROOT).as_posix(), line) for p in files
              for line in _conf_writes(ast.parse(p.read_text(), str(p)))]
    assert writes == []


_CATALOG_DDL = re.compile(r"\s*(CREATE|DROP\s+TABLE)\b", re.IGNORECASE)


def _leading_text(node) -> str:
    """The literal prefix of a str or f-string argument ('' otherwise)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr) and node.values:
        return _leading_text(node.values[0])
    return ""


# registering a (temp) view names it in the session catalog, where an
# overlapping query can replace it; spark.sql(query, df=df) registers a
# uuid-named view and drops it after analysis instead
_CATALOG_WRITES = frozenset((
    "saveAsTable", "createOrReplaceTempView", "createTempView",
    "createGlobalTempView", "createOrReplaceGlobalTempView",
    "registerTempTable"))


def _touches_catalog(node) -> bool:
    if isinstance(node, ast.Attribute):
        return node.attr == "catalog"
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr in _CATALOG_WRITES:
        return True
    return (node.func.attr == "sql" and bool(node.args)
            and bool(_CATALOG_DDL.match(_leading_text(node.args[0]))))


def _catalog_uses(tree) -> list:
    return sorted(node.lineno for node in ast.walk(tree)
                  if _touches_catalog(node))


def test_engine_never_touches_session_catalog():
    """No operator, gate or job registers, drops or looks up a table or a
    temp view in the session catalog: its entries are session-wide names every
    overlapping query shares, and a stage is read only through its
    snapshot manifest."""
    assert _catalog_uses(ast.parse(
        'df.write.bucketBy(4, "k").saveAsTable("t")\n'
        'spark.catalog.tableExists("t")\n'
        'spark.sql("""\n  CREATE TABLE t (a int) USING parquet""")\n'
        'spark.sql(f"drop table if exists {t}")\n'
        'spark.sql("SELECT 1 AS created")\n'
        'spark.sql(f"SELECT * FROM {t}")\n'
        'o.createOrReplaceTempView("_v")\n'
        'o.createTempView("_v")\n'
        'o.createGlobalTempView("_v")\n'
        'o.registerTempTable("_v")\n'
        'spark.sql("SELECT * FROM {o}", o=o)')) == [1, 2, 3, 5, 8, 9, 10, 11]
    files = [p for d in ("origami_spark", "gates", "jobs")
             for p in sorted((_ROOT / d).rglob("*.py"))]
    writes = [(p.relative_to(_ROOT).as_posix(), line) for p in files
              for line in _catalog_uses(ast.parse(p.read_text(), str(p)))]
    assert writes == []
