"""Event-log gates: as-of joins, sessions, rollups, funnels, retention."""

from pyspark.sql import functions as F

from gates import _t, gate

# DuckDB's NATIVE ASOF JOIN vs the Spark union+window form —
# two independent implementations of the same semantics
@gate("""
            WITH c AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
                 v AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'view')
            SELECT c.event_id, c.user_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
                   v.value AS view_value,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts""")
def events_asof_join(spark, sf):
    """Backward as-of join (operators/events.asof_join — the brief's
    named custom operator): each click event gains the value and
    timestamp of the LATEST preceding view by the same user.  Spark
    runs the union + ordered-window formulation (one shuffle on the
    key); the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — a
    genuinely independent implementation of the same semantics."""
    from origami_spark.operators.events import TS_FMT, asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value")
    out = asof_join(clicks, views, key="user_id", value_cols=("value",))
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", TS_FMT).alias("click_ts"),
        F.col("value_asof").alias("view_value"),
        F.date_format("ts_asof", TS_FMT).alias("view_ts"),
    )


@gate("""
            WITH c AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
                 v AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'view')
            SELECT c.event_id, c.user_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
                   v.value AS view_value,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts <= v.ts""")
def events_asof_forward(spark, sf):
    """Forward as-of join (operators/events.asof_join
    direction='forward', the pandas merge_asof forward direction):
    each click gains the value of the EARLIEST view at-or-after it by
    the same user; oracle = DuckDB ASOF LEFT JOIN with ``<=``."""
    from origami_spark.operators.events import TS_FMT, asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value")
    out = asof_join(clicks, views, key="user_id", value_cols=("value",),
                    direction="forward")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", TS_FMT).alias("click_ts"),
        F.col("value_asof").alias("view_value"),
        F.date_format("ts_asof", TS_FMT).alias("view_ts"),
    )


@gate("""
            WITH m AS (SELECT user_id, ts, epoch_ms(ts) AS ms FROM events),
            f AS (SELECT user_id, ts, ms,
                  CASE WHEN lag(ms) OVER w IS NULL
                            OR ms - lag(ms) OVER w > 21600000
                       THEN 1 ELSE 0 END AS nw
                  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts, ms,
                  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                  FROM f)
            SELECT user_id, session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')
                     AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')
                     AS session_end,
                   CAST(max(ms) - min(ms) AS BIGINT) AS duration_ms
            FROM s GROUP BY 1, 2""")
def events_sessionize(spark, sf):
    """Batch gaps-and-islands sessionization (operators/events.
    sessionize): a 6-hour idle gap starts a new session; one row per
    session with exact millisecond durations."""
    from origami_spark.operators.events import sessionize

    return sessionize(_t(spark, sf, "events"), gap_seconds=21600)


@gate("""
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS b, event_type,
                     CAST(count(*) AS BIGINT) AS n, sum(value) AS sv
              FROM events GROUP BY 1, 2),
            daily AS (
              SELECT date_trunc('day', b) AS b, event_type,
                     CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv
              FROM hourly GROUP BY 1, 2)
            SELECT 'hour' AS granularity,
                   strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
                   event_type, n, round(sv, 2) AS sum_value FROM hourly
            UNION ALL
            SELECT 'day', strftime(b, '%Y-%m-%d %H:%M:%S'),
                   event_type, n, round(sv, 2) FROM daily""")
def events_rollup(spark, sf):
    """Hypertable-style multi-resolution rollup (operators/events.
    time_rollup): hour grain from raw (the only corpus shuffle), day
    grain derived FROM the hourly aggregate — continuous-aggregate
    reuse, so the daily never rescans raw at 10^12 events."""
    from origami_spark.operators.events import time_rollup

    return time_rollup(_t(spark, sf, "events"))


@gate("""
            WITH t1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            t2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'click'
                AND epoch_us(e.ts) > epoch_us(t1.t1)
                AND epoch_us(e.ts) - epoch_us(t1.t1) <= 604800000000
              GROUP BY 1),
            t3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e
              JOIN t2 ON e.user_id = t2.user_id
              JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'purchase'
                AND epoch_us(e.ts) > epoch_us(t2.t2)
                AND epoch_us(e.ts) - epoch_us(t1.t1) <= 604800000000
              GROUP BY 1)
            SELECT t1.user_id,
                   CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                             WHEN t2.t2 IS NOT NULL THEN 2
                             ELSE 1 END AS BIGINT) AS funnel_depth,
                   strftime(t1.t1, '%Y-%m-%d %H:%M:%S.%f') AS t1
            FROM t1
            LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id""")
def events_funnel(spark, sf):
    """Greedy ordered-step window funnel (operators/events.
    window_funnel, the ClickHouse windowFunnel family): per user the
    earliest view anchors, then the earliest later click and the
    earliest still-later purchase inside a 7-day horizon
    (microsecond-exact arithmetic); depth = steps reached.  The
    oracle is the chained min-CTE form."""
    from origami_spark.operators.events import window_funnel

    return window_funnel(
        _t(spark, sf, "events"), ("view", "click", "purchase"),
        horizon_ms=7 * 24 * 3600 * 1000)


@gate("""
            WITH wk AS (SELECT DISTINCT user_id,
                               date_trunc('week', ts) AS wk FROM events),
            f AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1)
            SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
                   CAST(date_diff('day', CAST(f.cohort AS DATE),
                        CAST(wk.wk AS DATE)) / 7 AS BIGINT) AS week_offset,
                   CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_active
            FROM wk JOIN f ON wk.user_id = f.user_id
            GROUP BY 1, 2""")
def events_retention(spark, sf):
    """Weekly cohort retention (operators/events.cohort_retention):
    cohort = first active week per user; distinct active users per
    (cohort_week, week_offset)."""
    from origami_spark.operators.events import cohort_retention

    return cohort_retention(_t(spark, sf, "events"))
