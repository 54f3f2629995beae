"""session.cache / cache_scope: the caller-owned lifetime of every
cached intermediate, and the scan that keeps raw caching out of the
engine."""

import ast
import itertools
import threading
from pathlib import Path

import pytest
from pyspark import StorageLevel

from origami_spark.session import cache, cache_scope

_ROOT = Path(__file__).resolve().parents[1]
# distinct plans: the cache manager matches frames by plan, so two
# identical spark.range(n) frames would share one cache entry
_SIZES = itertools.count(101)


def _frame(spark):
    return spark.range(next(_SIZES))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


class _Boom(Exception):
    pass


def test_scope_releases_on_normal_and_exception_exit(spark):
    with cache_scope():
        a = cache(_frame(spark))
        b = _frame(spark).transform(cache)
        assert _cached(a) and _cached(b)
    assert not _cached(a) and not _cached(b)

    err = _Boom("mid-block failure")
    with pytest.raises(_Boom) as raised:
        with cache_scope():
            c = cache(_frame(spark))
            raise err
    assert raised.value is err
    assert not _cached(c)


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
    df = cache(_frame(spark))
    try:
        with cache_scope():
            pass
        assert _cached(df)
    finally:
        df.unpersist()


def test_inner_scope_releases_only_its_own_frames(spark):
    with cache_scope():
        outer = cache(_frame(spark))
        with cache_scope():
            inner = cache(_frame(spark))
        assert not _cached(inner)
        assert _cached(outer)
        after = cache(_frame(spark))   # back in the outer scope
    assert not _cached(outer) and not _cached(after)


def test_scopes_are_per_thread(spark):
    """Two threads share one session, their scopes interleaved: A opens,
    B opens and caches, A caches and exits.  A's exit releases exactly
    A's frame; B's stays cached until B's own exit (a process-global
    registry drained by A would drop both)."""
    a_open, b_cached, a_done = (threading.Event() for _ in range(3))
    seen = {}

    def thread_a():
        with cache_scope():
            a_open.set()
            assert b_cached.wait(60)
            seen["a"] = cache(_frame(spark))
        seen["a_after_exit"] = _cached(seen["a"])
        seen["b_after_a_exit"] = _cached(seen["b"])
        a_done.set()

    def thread_b():
        assert a_open.wait(60)
        with cache_scope():
            seen["b"] = cache(_frame(spark))
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
    assert not _cached(seen["b"])


def _raw_cache_calls(path: Path):
    tree = ast.parse(path.read_text(), str(path))
    return [f"{path.relative_to(_ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")]


def test_engine_caches_only_through_session():
    """Every cache in the engine, the gates and the jobs goes through
    session.cache, so some cache_scope() can own it."""
    session = _ROOT / "origami_spark" / "session.py"
    files = [p for d in ("origami_spark", "gates", "jobs")
             for p in sorted((_ROOT / d).rglob("*.py")) if p != session]
    assert len(files) > 50
    assert [hit for p in files for hit in _raw_cache_calls(p)] == []
    assert _raw_cache_calls(session)   # the scan does see a raw call
