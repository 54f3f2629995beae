#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN — this file is the
builder's own instrumentation, guide §1).

Times individual queries() entries the way the frozen bench times one
(``q(spark, sf).agg(count(lit(1))).collect()``, min-of-k with the steal
meter), after one untimed pass over EVERY listed entry: the frozen
bench warms only its WARM_FIRST entries, so there a reading depends on
which entries ran before it in the session.  Also dumps
``.explain("formatted")`` plans to plans/r06/.

Usage:
  python bench_extra.py time <query> [<query> ...] [--sf DIR] [--runs K]
  python bench_extra.py plan <query> [--sf DIR] [--out plans/r06/<q>_before.txt]
  python bench_extra.py all [--sf DIR]          # every BENCH_QUERIES row once
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, WARM_FIRST, timed_with_steal  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return
    mode = args[0]
    rest = args[1:]
    sf = SF_DIR
    runs = 2
    if "--sf" in rest:
        i = rest.index("--sf")
        sf = rest[i + 1]
        del rest[i:i + 2]
    if "--runs" in rest:
        i = rest.index("--runs")
        runs = int(rest[i + 1])
        del rest[i:i + 2]
    out_path = None
    if "--out" in rest:
        i = rest.index("--out")
        out_path = rest[i + 1]
        del rest[i:i + 2]

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from origami_spark.session import get_spark

    spark = get_spark("bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    if mode == "plan":
        for name in rest:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            if name in WARM_FIRST:
                qs[name](spark, sf).agg(F.count(F.lit(1))).collect()
            df = qs[name](spark, sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            dest = out_path or f"plans/r06/{name}.txt"
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            with open(dest, "w") as f:
                f.write(txt)
            print(f"{name}: plan -> {dest} ({txt.count('Exchange')} Exchange refs)")
        spark.stop()
        return

    names = BENCH_QUERIES if mode == "all" else rest
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        qs[name](spark, sf).agg(F.count(F.lit(1))).collect()
    results = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        wall, _, steal = timed_with_steal(
            lambda: qs[name](spark, sf).agg(F.count(F.lit(1))).collect(),
            min_runs=runs)
        results[name] = round(wall, 3)
        print(f"{name}: {wall:.3f}s (steal {steal:.4f})", flush=True)
    print(json.dumps({"sf": sf, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
