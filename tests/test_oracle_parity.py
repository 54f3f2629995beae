"""Mimics the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB over the same parquet tables,
compare sorted column names + row count + order-insensitive values.

The compare is shared with jobs/rehearse_oracles.py via
origami_spark.oracle_compare (one implementation, column-wise so
BIGINTs never upcast through a row Series and lose >2^53 precision)."""

import pytest

from origami_spark.oracle_compare import compare, duck_connect

SF_DIR = "/root/testdata/sf0.001"


def _pairs():
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    return [(name, fn, os_.get(name)) for name, fn in qs.items()]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, name, fn, sql):
    sdf = fn(spark, SF_DIR).toPandas()
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract (non-SQL-expressible)
        return
    diff = compare(sdf, duck_connect(SF_DIR).execute(sql).df())
    assert diff is None, f"{name}: {diff}"
