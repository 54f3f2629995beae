"""Event-log operators: as-of join, batch sessionization, hypertable-
style rollups, window funnels, cohort retention.

Training-data pipelines sit next to interaction/event logs (crawl
fetch logs, feedback events, label streams), and the reference brief
names as-of joins and hypertable rollups among the custom operators a
Spark engine must supply.  All five operators here are pure Catalyst
(zero Python in the data path) and single-shuffle-per-grain:

* :func:`asof_join` — backward as-of (each left row gets the latest
  right row at or before its ``ts`` per key), the union trick:
  tag sides, ONE shuffle on the key, one ordered window pass with
  ``last(ignorenulls)``.  No range explosion, no per-key loop.
* :func:`sessionize` — gaps-and-islands sessions: new session when
  the per-key gap exceeds ``gap_seconds``; one window shuffle, one
  aggregate.
* :func:`time_rollup` — the hypertable/continuous-aggregate shape:
  hour-grain aggregate from raw (the only corpus shuffle), day grain
  derived FROM the hourly table (a second, tiny aggregate), both
  exposed in one union — at 10^12 events the daily rollup never
  rescans raw.
* :func:`window_funnel` — greedy ordered-step funnel (the ClickHouse
  ``windowFunnel`` family): per key, step 1 anchors at its earliest
  occurrence and each later step takes its earliest qualifying event
  inside the horizon; chained conditional window-aggregates over ONE
  key partitioning (Catalyst reuses the exchange — no second
  shuffle), then a per-key collapse.
* :func:`cohort_retention` — weekly cohort x offset active-user
  counts: distinct (key, week) once, first-week per key, co-
  partitioned join back, small final aggregate.

Skew note: per-key windows sort one key's rows on one task — the
``host_cap`` argument applies (a streaming pass over the sorted
partition; a mega-key costs a sort spill, never a driver collect).
Event keys (users/hosts) are Zipf-ish but each key's row count is
bounded by per-entity activity, orders of magnitude under the corpus.

Determinism: event timestamps are compared at microsecond exactness
(``unix_micros``/DuckDB ``epoch_us``); emitted timestamps are
formatted strings so both engines hash identically; double sums round
only in the final projection.

Reference parity note: origami has no event grain; this family
extends the engine for log-shaped corpus curation (same extension
class as operators/hosts.py / robots.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "sessionize", "time_rollup", "window_funnel",
           "cohort_retention", "TS_FMT"]

# second-exact emitted form shared with the DuckDB oracles
# ('%Y-%m-%d %H:%M:%S.%f' on the DuckDB side)
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _ms(c):
    """Exact epoch milliseconds (DuckDB `epoch_ms`).  Event tables
    carry TIMESTAMP_NTZ, which unix_millis rejects; the session
    timezone is pinned UTC (session.py), so the cast is the identity
    wall-clock mapping on both engines."""
    return F.unix_millis(c.cast("timestamp"))


def _us(c):
    """Exact epoch microseconds (DuckDB `epoch_us`)."""
    return F.unix_micros(c.cast("timestamp"))


def asof_join(left: DataFrame, right: DataFrame, key: str = "user_id",
              value_cols: tuple = ("value",),
              direction: str = "backward") -> DataFrame:
    """As-of join (the pandas ``merge_asof`` directions) on the ``ts``
    columns of both sides: every ``left`` row keeps all its columns and
    gains ``<c>_asof`` for each of the right's ``value_cols`` plus
    ``ts_asof`` — the values of the matched right row on the same
    ``key``:

    * ``backward`` (default) — the LATEST right row with
      ``right.ts <= left.ts``;
    * ``forward`` — the EARLIEST right row with ``right.ts >=
      left.ts``.

    NULLs when no right row qualifies.

    Plan: union the tagged sides (the right row at an EQUAL timestamp
    sorts on the matchable side of the left row — the inclusive
    contract), ONE hash exchange on the key, one window pass carrying
    the nearest non-null right value across, filter back to the left
    side.  Equivalent to DuckDB's native ``ASOF LEFT JOIN`` with
    ``>=`` / ``<=`` (the oracle formulations), but expressed with
    operators Spark can pipeline at any scale.  Ties inside the right
    side at one (key, ts) are broken by union input order and should
    be pre-deduplicated by the caller when they can occur."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, "
                         f"got {direction!r}")
    lcols = left.columns
    rvals = list(value_cols)
    l = left.select(
        F.col(key).alias("_k"), F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"), *[F.col(c) for c in lcols])
    r = right.select(
        F.col(key).alias("_k"), F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in rvals])
    u = l.unionByName(r, allowMissingColumns=True)
    if direction == "backward":
        # right (0) before left (1) at equal ts; carry the LAST right
        # value seen so far forward in time
        w = (Window.partitionBy("_k")
             .orderBy(F.col("_ts").asc(), F.col("_side").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        nearest = lambda c: F.last(c, ignorenulls=True).over(w)
    else:
        # left (1) before right (0) at equal ts; take the FIRST right
        # value at or after the current row
        w = (Window.partitionBy("_k")
             .orderBy(F.col("_ts").asc(), F.col("_side").desc())
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        nearest = lambda c: F.first(c, ignorenulls=True).over(w)
    out = u.withColumn(
        "_m_ts",
        nearest(F.when(F.col("_side") == 0, F.col("_ts"))))
    for c in rvals:
        out = out.withColumn(f"{c}_asof", nearest(F.col(f"_r_{c}")))
    return out.filter(F.col("_side") == 1).select(
        *lcols, *[f"{c}_asof" for c in rvals],
        F.col("_m_ts").alias("ts_asof"))


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gaps-and-islands sessionization of ``(user_id, ts)`` events: a
    new session starts when the per-user gap exceeds ``gap_seconds``.
    Output one row per session: ``(user_id, session_seq, n_events,
    session_start, session_end, duration_ms)`` — timestamps as
    formatted strings, duration in exact millisecond integers.  One
    window shuffle on the key plus the same-partitioned aggregate."""
    ms = _ms(F.col("ts"))
    wo = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    prev = F.lag(ms).over(wo)
    is_new = (prev.isNull()
              | ((ms - prev) > int(gap_seconds) * 1000)).cast("int")
    run = (Window.partitionBy("user_id").orderBy(F.col("ts").asc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = events.select("user_id", "ts").withColumn("_new", is_new) \
        .withColumn("session_seq", F.sum("_new").over(run).cast("bigint"))
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), TS_FMT).alias("session_end"),
            (_ms(F.max("ts")) - _ms(F.min("ts")))
            .cast("bigint").alias("duration_ms"),
        )
    )


def time_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style multi-resolution rollup with continuous-
    aggregate reuse: the hour grain aggregates RAW events (the only
    corpus-sized shuffle); the day grain aggregates THE HOURLY TABLE
    (<= 24 rows per (day, event_type) — at 10^12 events the daily
    rollup costs nothing and never rescans raw).  Output:
    ``(granularity, bucket, event_type, n, sum_value)`` with bucket as
    a formatted string and the double sum of ``value`` rounded only
    here."""
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("_bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum("value").alias("_sv"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "_bucket").alias("_bucket"), "event_type")
        .agg(F.sum("_n").alias("_n"), F.sum("_sv").alias("_sv"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"

    def shape(df, gran):
        return df.select(
            F.lit(gran).alias("granularity"),
            F.date_format("_bucket", fmt).alias("bucket"),
            "event_type",
            F.col("_n").cast("bigint").alias("n"),
            F.round("_sv", 2).alias("sum_value"),
        )

    return shape(hourly, "hour").unionAll(shape(daily, "day"))


def window_funnel(events: DataFrame, steps: tuple,
                  horizon_ms: int) -> DataFrame:
    """Greedy ordered-step funnel over ``(user_id, ts, event_type)``
    events: per user, ``t1`` is the earliest step-1 event; each
    subsequent step takes its earliest event STRICTLY after the
    previous step and within ``horizon_ms`` of ``t1``
    (microsecond-exact comparisons).  Output one row per user that
    reached step 1: ``(user_id, funnel_depth, t1)``.

    Plan: one conditional window-aggregate per step over the SAME
    key partitioning — Catalyst plans one exchange and stacked Window
    nodes — then a per-key collapse (grouping on values constant per
    key).  SQL-expressible (the chained min-CTE form is the DuckDB
    oracle), so the greedy choice is externally verified."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    w = Window.partitionBy("user_id")
    us = _us(F.col("ts"))
    cur = events.select("user_id", "ts", "event_type").withColumn(
        "_t1", F.min(F.when(F.col("event_type") == steps[0],
                            F.col("ts"))).over(w))
    horizon_us = int(horizon_ms) * 1000
    prev = "_t1"
    for i, step in enumerate(steps[1:], start=2):
        ok = (
            F.col(prev).isNotNull()
            & (F.col("event_type") == step)
            & (us > _us(F.col(prev)))
            & (us - _us(F.col("_t1")) <= horizon_us)
        )
        cur = cur.withColumn(
            f"_t{i}", F.min(F.when(ok, F.col("ts"))).over(w))
        prev = f"_t{i}"
    collapsed = cur.groupBy("user_id").agg(
        *[F.max(f"_t{i}").alias(f"_t{i}")
          for i in range(1, len(steps) + 1)])
    depth = F.lit(0)
    for i in range(1, len(steps) + 1):
        depth = F.when(F.col(f"_t{i}").isNotNull(),
                       F.lit(i)).otherwise(depth)
    return (
        collapsed.select(
            "user_id",
            depth.cast("bigint").alias("funnel_depth"),
            F.date_format("_t1", TS_FMT).alias("t1"),
        )
        .filter(F.col("funnel_depth") >= 1)
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = the user's first active week;
    one output row per (cohort_week, week_offset) with the distinct
    users active that week.  Distinct (user_id, week) first (one shuffle,
    corpus collapses to activity grain), first-week per key and the
    join back are both key-partitioned (exchange reuse), the final
    aggregate is cohort-grain tiny."""
    wk = events.select(
        "user_id", F.date_trunc("week", "ts").alias("_wk")).distinct()
    first = wk.groupBy("user_id").agg(F.min("_wk").alias("_cohort"))
    j = wk.join(first, "user_id")
    return (
        j.groupBy(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("_wk"), F.col("_cohort")) / 7)
            .cast("bigint").alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).cast("bigint").alias("n_active"))
    )
