"""Evaluation + regression tracking.

* ``evaluate`` — extraction quality vs ground truth (the dinglehopper
  evaluation analog, ``batch/utils/evaluate.py:107-136``, at corpus
  scale): per-url byte-identity + length deltas, aggregated to corpus
  rates.  Byte-identity is the reference's own acceptance notion
  (``--track-changes`` byte diff, ``io.py:419-475``).

* ``track_changes`` — recompute-and-diff between two snapshots of the
  same stage table (TrackChangeWriter analog): join on url, compare
  sha2 digests, report changed/checked counts per url.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate(extracted: DataFrame, truth: DataFrame) -> DataFrame:
    """extracted (url, text) x truth (url, text) -> one summary row:
    doc counts, byte-identical rate, mean/max length delta of misses."""
    joined = (
        extracted.select("url", F.col("text").alias("got"))
        .join(truth.select("url", F.col("text").alias("want")), "url", "full")
    )
    per_url = joined.select(
        "url",
        (F.col("got") == F.col("want")).alias("exact"),
        (F.coalesce(F.length("got"), F.lit(0))
         - F.coalesce(F.length("want"), F.lit(0))).alias("len_delta"),
        F.col("got").isNull().alias("missing"),
        F.col("want").isNull().alias("extra"),
    )
    return per_url.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("exact"), 1).otherwise(0)).alias("byte_identical"),
        F.round(
            F.avg(F.when(F.col("exact"), 1.0).otherwise(0.0)), 6
        ).alias("pass_rate"),
        F.sum(F.when(F.col("missing"), 1).otherwise(0)).alias("missing_docs"),
        F.sum(F.when(F.col("extra"), 1).otherwise(0)).alias("extra_docs"),
        F.round(F.avg(F.abs("len_delta")), 3).alias("mean_abs_len_delta"),
        F.max(F.abs("len_delta")).alias("max_abs_len_delta"),
    )


def evaluate_cer(extracted: DataFrame, truth: DataFrame) -> DataFrame:
    """Character-error-rate evaluation (the dinglehopper CER analog,
    reference ``batch/utils/evaluate.py:89-94``): per-url Levenshtein
    edits / truth length, plus the corpus-level rate.

    Byte-identical pairs short-circuit to zero edits relationally; the
    O(len^2) distance kernel only ever runs on mismatching documents —
    on a healthy pipeline that's a vanishing fraction."""
    import pandas as pd

    joined = (
        extracted.select("url", F.col("text").alias("got"))
        .join(truth.select("url", F.col("text").alias("want")), "url", "inner")
    )
    exact = joined.filter(F.col("got") == F.col("want")).select(
        "url",
        F.lit(0).cast("bigint").alias("edits"),
        F.length("want").cast("bigint").alias("truth_len"),
    )
    diff = joined.filter(
        F.col("got").isNull() | F.col("want").isNull()
        | (F.col("got") != F.col("want"))
    )

    def lev_kernel(batches):
        def lev(a: str, b: str) -> int:
            if a == b:
                return 0
            if not a:
                return len(b)
            if not b:
                return len(a)
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "edits": [lev(g or "", w or "")
                          for g, w in zip(pdf["got"], pdf["want"])],
                "truth_len": [len(w or "") for w in pdf["want"]],
            })

    inexact = diff.mapInPandas(
        lev_kernel, schema="url string, edits bigint, truth_len bigint"
    )
    per_url = exact.unionByName(inexact)
    return per_url.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("edits").alias("total_edits"),
        F.sum("truth_len").alias("total_chars"),
        F.round(
            F.sum("edits").cast("double")
            / F.greatest(F.sum("truth_len"), F.lit(1)),
            6,
        ).alias("cer"),
    )


def track_changes(new: DataFrame, old: DataFrame) -> DataFrame:
    """Recompute-diff two snapshots: per-url status changed/checked/new/
    gone of the ``text`` (TrackChangeWriter's .changed/.checked markers,
    io.py:419-475)."""
    n = new.select(F.col("url").alias("k"), F.sha2(F.col("text"), 256).alias("nh"))
    o = old.select(F.col("url").alias("k"), F.sha2(F.col("text"), 256).alias("oh"))
    j = n.join(o, "k", "full")
    return j.select(
        F.col("k").alias("url"),
        F.when(F.col("nh").isNull(), "gone")
        .when(F.col("oh").isNull(), "new")
        .when(F.col("nh") == F.col("oh"), "checked")
        .otherwise("changed")
        .alias("status"),
    )
