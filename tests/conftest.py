import pytest


@pytest.fixture(scope="session")
def spark():
    from origami_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def graph_paths():
    """``graph_paths(run)`` -> ``[on the kernel, on the relational
    program]``: ``run()`` twice, with ``operators.graph._KERNEL_EDGES``
    forcing each plan in turn, checking that each took its plan.
    ``has_edges=False``: the graph has no edge, so neither plan runs and
    the kernel must not be called."""
    from unittest import mock

    from origami_spark.operators import graph

    def both(run, has_edges=True):
        out = []
        for limit in (1 << 62, -1):
            with mock.patch.object(graph, "_KERNEL_EDGES", limit), \
                    mock.patch.object(graph, "_in_task",
                                      wraps=graph._in_task) as kernel:
                out.append(run())
            assert kernel.called == (has_edges and limit > 0)
        return out
    return both
