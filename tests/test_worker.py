"""The local Python worker daemon (origami_spark/worker.py): tasks start
without cached zip finders and otherwise behave like PySpark's own."""

import pandas as pd
import pytest
from pyspark.errors import PythonException
import pyspark.sql.functions as F


def test_session_uses_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "origami_spark.worker"


def test_tasks_start_without_zip_finders(spark):
    def kernel(batches):
        import sys
        import zipimport

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_finders": [n]})

    df = spark.range(0, 64, numPartitions=8)
    # the first pass imports the serializers and pandas glue, so it may
    # build finders after the eviction; the second pass must not need to
    for _ in range(2):
        counts = [r.zip_finders for r in
                  df.mapInPandas(kernel, "zip_finders long").collect()]
    assert len(counts) == 8
    assert counts == [0] * 8


def test_kernel_error_reaches_the_driver(spark):
    def kernel(batches):
        for _ in batches:
            raise ValueError("kernel failed on purpose")
        yield pd.DataFrame({"id": []})

    with pytest.raises(PythonException, match="kernel failed on purpose"):
        spark.range(4).mapInPandas(kernel, "id long").collect()


def test_grouped_apply_and_pandas_udf(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v long")

    def total(pdf):
        return pd.DataFrame({"k": [pdf.k.iloc[0]], "v": [pdf.v.sum()]})

    got = df.groupBy("k").applyInPandas(total, "k string, v long")
    assert sorted(map(tuple, got.collect())) == [("a", 3), ("b", 5)]

    @F.pandas_udf("long")
    def double(v: pd.Series) -> pd.Series:
        return v * 2

    got = df.select("k", double("v").alias("v")).orderBy("k", "v")
    assert [tuple(r) for r in got.collect()] == [("a", 2), ("a", 4), ("b", 10)]
