"""The Spark-vs-DuckDB parity contract: canonicalization and compare.

ONE implementation consumed by tests/test_oracle_parity.py and
jobs/rehearse_oracles.py so the comparison semantics (float precision,
NULL handling, the registered table list, the column/row-count/row-value
checks) cannot drift between the pytest mirror and the rehearsal job.

Precision note: canonicalization is PER COLUMN, not per row —
``DataFrame.iterrows`` materializes each row as a single-dtype Series,
which upcasts BIGINT columns to float64 whenever any DOUBLE column is
present in the same row and silently truncates integers above 2^53
(a ~2^60 kth_hash would compare equal across a ±127 divergence).
Column-wise iteration preserves the integer dtype end-to-end.
"""

import math

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_connect(sf_dir: str):
    """A DuckDB connection with the standard table views registered."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if v is None:
        return "NULL"
    return str(v)


def canon(df):
    """Order-insensitive canonical form: sorted columns, sorted rows,
    floats normalized to 6 decimals, integers exact."""
    cols = sorted(df.columns)
    columns = [[_cell(v) for v in df[c].tolist()] for c in cols]
    rows = sorted(zip(*columns)) if columns else []
    return cols, rows


def compare(spark_df, duck_df) -> str | None:
    """None when both results are equal under ``canon``; otherwise why
    not: the sorted column names, the row count, or the first row that
    differs."""
    scols, srows = canon(spark_df)
    dcols, drows = canon(duck_df)
    if scols != dcols:
        return f"columns {scols} != {dcols}"
    if len(srows) != len(drows):
        return f"rows {len(srows)} != {len(drows)}"
    mism = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
    if mism:
        return (f"{len(mism)} mismatched rows, first: "
                f"{srows[mism[0]]} != {drows[mism[0]]}")
    return None
