"""Event-log operators (operators/events.py): hand-computable
semantics for as-of join (inclusive boundary, tolerance, no-match),
sessionization gap edges, rollup continuous-aggregate reuse, funnel
horizon/order edges, retention cohort math, plus determinism under
repartitioning.  The DuckDB side is covered by test_oracle_parity."""

import datetime as dt

import pyspark.sql.functions as F

from origami_spark.operators.events import (
    asof_join,
    cohort_retention,
    sessionize,
    time_rollup,
    window_funnel,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_backward_inclusive_and_no_match(spark):
    left = _df(spark, [
        (1, 10, _ts("2024-01-01 10:00:00")),
        (2, 10, _ts("2024-01-01 12:00:00")),
        (3, 20, _ts("2024-01-01 09:00:00")),   # no right row at all
        (4, 30, _ts("2024-01-01 08:00:00")),   # right rows only later
    ], "event_id bigint, user_id bigint, ts timestamp")
    right = _df(spark, [
        (10, _ts("2024-01-01 10:00:00"), 1.0),  # EQUAL ts -> matches (<=)
        (10, _ts("2024-01-01 11:30:00"), 2.0),
        (30, _ts("2024-01-01 09:00:00"), 9.0),
    ], "user_id bigint, ts timestamp, value double")
    got = {r["event_id"]: (r["value_asof"],
                           r["ts_asof"] and r["ts_asof"].isoformat(" "))
           for r in asof_join(left, right).collect()}
    assert got[1] == (1.0, "2024-01-01 10:00:00")   # inclusive boundary
    assert got[2] == (2.0, "2024-01-01 11:30:00")   # latest, not first
    assert got[3] == (None, None)                   # unknown key
    assert got[4] == (None, None)                   # only future rights


def test_asof_partition_invariance(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    l = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    r = ev.filter("event_type = 'view'").select("user_id", "ts", "value")
    a = sorted((x["event_id"], x["value_asof"])
               for x in asof_join(l, r).collect())
    b = sorted((x["event_id"], x["value_asof"])
               for x in asof_join(l.repartition(7), r.repartition(3))
               .collect())
    assert a == b and len(a) > 0


def test_sessionize_gap_edges(spark):
    # gaps of exactly 60s stay in-session (> gap starts a new one)
    rows = [(1, _ts("2024-01-01 10:00:00")),
            (1, _ts("2024-01-01 10:01:00")),      # +60s -> same session
            (1, _ts("2024-01-01 10:02:00.001")),  # +60.001s -> NEW
            (2, _ts("2024-01-01 00:00:00"))]
    ev = _df(spark, rows, "user_id bigint, ts timestamp")
    got = {(r["user_id"], r["session_seq"]): (r["n_events"], r["duration_ms"])
           for r in sessionize(ev, gap_seconds=60).collect()}
    assert got == {(1, 1): (2, 60000), (1, 2): (1, 0), (2, 1): (1, 0)}


def test_rollup_daily_reuses_hourly(spark):
    """The continuous-aggregate invariant: the day rows derived from
    the hourly table equal a direct day-grain aggregate of raw."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {(r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
           for r in time_rollup(ev).filter("granularity = 'day'").collect()}
    direct = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value")).collect()
    }
    assert got == direct and len(got) > 10


def test_funnel_order_and_horizon(spark):
    rows = [
        # user 1: full ordered chain inside horizon -> depth 3
        (1, "view", _ts("2024-01-01 10:00:00")),
        (1, "click", _ts("2024-01-01 10:30:00")),
        (1, "purchase", _ts("2024-01-01 11:00:00")),
        # user 2: purchase BEFORE the view -> depth 1
        (2, "purchase", _ts("2024-01-01 09:00:00")),
        (2, "view", _ts("2024-01-01 10:00:00")),
        # user 3: click outside the horizon from t1 -> depth 1
        (3, "view", _ts("2024-01-01 10:00:00")),
        (3, "click", _ts("2024-01-01 13:00:00.000001")),
        # user 4: click at the exact horizon boundary -> counts (<=)
        (4, "view", _ts("2024-01-01 10:00:00")),
        (4, "click", _ts("2024-01-01 13:00:00")),
        # user 5: never views -> absent
        (5, "click", _ts("2024-01-01 10:00:00")),
    ]
    ev = _df(spark, rows, "user_id bigint, event_type string, ts timestamp")
    got = {r["user_id"]: r["funnel_depth"]
           for r in window_funnel(
               ev, ("view", "click", "purchase"),
               horizon_ms=3 * 3600 * 1000).collect()}
    assert got == {1: 3, 2: 1, 3: 1, 4: 2}


def test_retention_cohort_math(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00")),  # cohort W0, active W0
        (1, _ts("2024-01-08 10:00:00")),  # ... and W1
        (2, _ts("2024-01-01 11:00:00")),  # cohort W0, active W0 only
        (3, _ts("2024-01-08 12:00:00")),  # cohort W1, active W1
    ]
    ev = _df(spark, rows, "user_id bigint, ts timestamp")
    got = {(r["cohort_week"], r["week_offset"]): r["n_active"]
           for r in cohort_retention(ev).collect()}
    assert got == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-08", 0): 1}


def test_reservoir_exact_size_and_partition_invariance(spark):
    from origami_spark.operators.sampling import reservoir_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang")
    a = sorted((r["lang"], r["doc_id"], r["rk"])
               for r in reservoir_sample(docs, k=7, by="lang").collect())
    b = sorted((r["lang"], r["doc_id"], r["rk"])
               for r in reservoir_sample(docs.repartition(11), k=7,
                                         by="lang").collect())
    assert a == b
    from collections import Counter
    per = Counter(lang for (lang, _d, _r) in a)
    n_lang = docs.groupBy("lang").count().collect()
    want = {r["lang"]: min(7, r["count"]) for r in n_lang}
    assert dict(per) == want
    # a different seed draws a different sample
    c = sorted((r["lang"], r["doc_id"])
               for r in reservoir_sample(docs, k=7, by="lang",
                                         seed="s1").collect())
    assert c != [(x, y) for (x, y, _r) in a]


def test_heavy_hitters_match_exact_top(spark):
    """CM overestimates only, so with a wide-enough sketch the top-k
    by estimate equals the exact top-k on this corpus."""
    from origami_spark.operators.sketch import countmin_build, countmin_topk

    from origami_spark.operators.text import tokens_col

    toks = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(
        F.explode(tokens_col("text")).alias("tok"))
    sk = countmin_build(toks, "tok", width=2048, depth=4)
    got = [(r["item"], r["cm_est"])
           for r in countmin_topk(sk, toks, "tok", k=5,
                                  width=2048, depth=4)
           .orderBy("rk").collect()]
    exact = [(r["tok"], r["count"]) for r in
             toks.groupBy("tok").count()
             .orderBy(F.desc("count"), F.asc("tok")).limit(5).collect()]
    assert [g[0] for g in got] == [e[0] for e in exact]
    for (gi, ge), (_ei, ec) in zip(got, exact):
        assert ge >= ec  # overestimate-only guarantee


def test_rollup_incremental_through_stage_runner(spark, tmp_path):
    """Hypertable maintenance loop: the hourly rollup runs through the
    checkpointed stage runner keyed by (bucket, event_type), so a
    re-run after new hours arrive appends ONLY the new hours'
    aggregate rows and an unchanged re-run appends nothing — the
    continuous-aggregate analog of the extraction pipeline's
    anti-join resume.  (Late rows inside an already-committed hour
    are a watermark concern, handled by the streaming path.)"""
    from origami_spark.plans.runner import run_stage

    work = str(tmp_path / "work")

    def hourly(ev):
        return (
            ev.groupBy(
                F.date_format(F.date_trunc("hour", "ts"),
                              "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            # run_stage resumes on the ``url`` column: here the row key
            .withColumn("url", F.concat_ws("|", "bucket", "event_type"))
        )

    day1 = [(i, "view", _ts("2024-01-01 00:00:00")
             + dt.timedelta(minutes=13 * i)) for i in range(20)]
    day2 = [(100 + i, "view", _ts("2024-01-02 00:00:00")
             + dt.timedelta(minutes=17 * i)) for i in range(20)]
    mk = lambda rows: _df(
        spark, rows, "event_id bigint, event_type string, ts timestamp")

    first = run_stage(spark, "rollup_hourly", hourly(mk(day1)),
                      lambda df: df, work, run_id="r1")
    n1 = first.count()
    assert n1 == mk(day1).select(
        F.date_trunc("hour", "ts")).distinct().count()

    both = mk(day1 + day2)
    second = run_stage(spark, "rollup_hourly", hourly(both),
                       lambda df: df, work, run_id="r2")
    n2 = second.count()
    assert n2 == both.select(F.date_trunc("hour", "ts")).distinct().count()
    assert n2 > n1

    third = run_stage(spark, "rollup_hourly", hourly(both),
                      lambda df: df, work, run_id="r3")
    assert third.count() == n2  # idempotent re-run: zero new rows
    # committed hourly rows equal a direct aggregate of all raw events
    got = {(r["bucket"], r["event_type"]): r["n"] for r in third.collect()}
    want = {(r["bucket"], r["event_type"]): r["n"]
            for r in hourly(both).collect()}
    assert got == want


def test_asof_forward_direction(spark):
    left = _df(spark, [
        (1, 10, _ts("2024-01-01 10:00:00")),   # equal-ts right matches
        (2, 10, _ts("2024-01-01 10:30:00")),   # nearest LATER, not last
        (3, 10, _ts("2024-01-01 12:30:00")),   # nothing after -> NULL
    ], "event_id bigint, user_id bigint, ts timestamp")
    right = _df(spark, [
        (10, _ts("2024-01-01 10:00:00"), 1.0),
        (10, _ts("2024-01-01 11:00:00"), 2.0),
        (10, _ts("2024-01-01 12:00:00"), 3.0),
    ], "user_id bigint, ts timestamp, value double")
    got = {r["event_id"]: r["value_asof"]
           for r in asof_join(left, right, direction="forward").collect()}
    assert got == {1: 1.0, 2: 2.0, 3: None}
