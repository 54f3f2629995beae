"""Driver-gate dry run: `__spark_entry__.queries()` entries on Spark AND
their `oracle_sql()` on DuckDB over the same parquet tables, compared by
`origami_spark.oracle_compare.compare` — the same contract as the
external correctness capture and tests/test_oracle_parity.py, but at the
driver's sf0.01 scale and over ALL entries by default (the external
capture stamps only the first 50).  Naming gates restricts the run to
them, in the order given — the fast equivalence check after
restructuring one gate's plan.

Usage (from the repo root):

    python jobs/rehearse_oracles.py [gate ...] [--sf DIR]

Prints one status line per gate and a final JSON summary
(total / hash_exact / rows_only / mismatch / error / fails).
Exit code 1 if any gate mismatches or errors.  The session takes its
cores from ``get_spark`` (``SPARK_GRAFT_CPUS``, else every core).

Staging caveat (same as the external gate): queries that stage model
artifacts write to the repo-local `.oracle_stage/` and their oracle
SQL reads those files, so run ONE rehearsal at a time.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from origami_spark.oracle_compare import compare, duck_connect  # noqa: E402


def main():
    names = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in names:
        i = names.index("--sf")
        sf_dir = names[i + 1]
        del names[i:i + 2]

    from origami_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark("rehearse_oracles")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = E.queries(), E.oracle_sql()
    names = names or list(qs)
    con = duck_connect(sf_dir)
    t0 = time.time()
    ok = rows_only = bad = err = 0
    fails = []
    for i, name in enumerate(names):
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            sql = oracles.get(name)
            if sql is None:
                rows_only += 1
                status = f"rows-only({len(sdf)})"
            else:
                diff = compare(sdf, con.execute(sql).df())
                if diff is None:
                    ok += 1
                    status = f"OK({len(sdf)})"
                else:
                    bad += 1
                    fails.append(name)
                    status = "MISMATCH " + diff[:200]
        except Exception as e:  # keep going: report every gate
            err += 1
            fails.append(name)
            status = "ERROR " + repr(e)[:200]
        print("%3d %-32s %s" % (i + 1, name, status), flush=True)
    print(json.dumps({
        "total": len(names), "hash_exact": ok, "rows_only": rows_only,
        "mismatch": bad, "error": err,
        "wall_s": round(time.time() - t0, 1), "fails": fails,
    }))
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
