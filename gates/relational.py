"""Relational checklist gates (SURVEY.md §2.10) over the TPC-H-shaped tables."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from origami_spark.operators import text as T

from gates import _TOKENS, _t, gate

@gate("""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus""")
def q01_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2024-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@gate("""
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")
def q02_topk_orders(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@gate("""
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name""")
def q03_region_revenue(spark, sf):
    li, o = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    c, n, r = (_t(spark, sf, "customer"), _t(spark, sf, "nation"),
               _t(spark, sf, "region"))
    # aggregate lineitem per order BEFORE the join (guide §2.3): the
    # big side enters the orderkey exchange as one row per order
    # instead of one per line item (6M -> 1.5M rows at sf1.0, measured
    # 3.4 s -> 1.5 s).  Revenue is a double sum either way (partial
    # aggregation already made its order partition-dependent), and the
    # count is an exact integer sum of per-order counts — the oracle
    # comparison is unchanged and hash-matches at every sf.
    la = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        la.join(o, la.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("_rev"), 2).alias("revenue"),
            F.sum("_n").cast("bigint").alias("n_items"),
        )
    )


@gate("""
            SELECT c_mktsegment, count(*) AS n_inactive
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment""")
def q04_anti_join(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_inactive")
    )


@gate("""
            SELECT p_brand, count(*) AS n_parts
            FROM part
            WHERE p_partkey IN (
              SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
            GROUP BY p_brand""")
def q05_semi_join(spark, sf):
    p, li = _t(spark, sf, "part"), _t(spark, sf, "lineitem")
    heavy = p.join(
        li.filter(F.col("l_quantity") > 45), p.p_partkey == li.l_partkey,
        "left_semi",
    )
    return heavy.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts"))


@gate("""
            WITH g AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
              FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id""")
def q06_window_adjacency(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_session",
                      F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@gate("""
            WITH rm AS (
              SELECT user_id, value,
                     max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
              FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN value <= prev_max THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_contained
            FROM rm GROUP BY user_id""")
def q07_running_containment(spark, sf):
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("prev_max", F.max("value").over(w))
        .withColumn(
            "contained",
            F.when(F.col("value") <= F.col("prev_max"), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("contained").cast("bigint").alias("n_contained"))
    )


@gate("""
            SELECT o_orderpriority,
                   round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4)
                     AS median_price,
                   round(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4)
                     AS p90_price,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderpriority""")
def q08_group_percentiles(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@gate("""
            SELECT l_orderkey,
                   string_agg(CAST(l_partkey AS VARCHAR), ','
                              ORDER BY l_linenumber, l_partkey)
                     AS parts_in_line_order
            FROM lineitem GROUP BY l_orderkey""")
def q09_ordered_assembly(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_partkey"))
                    ),
                    lambda s: s["l_partkey"].cast("string"),
                ),
                ",",
            ).alias("parts_in_line_order")
        )
    )


@gate("""
            SELECT a.user_id AS user_id, count(*) AS n_overlapping
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND a.value < b.value + 50 AND b.value < a.value + 50
            GROUP BY a.user_id""")
def q10_interval_overlap(spark, sf):
    ev = _t(spark, sf, "events").select("user_id", "event_id", "value")
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.value") < F.col("b.value") + 50)
        & (F.col("b.value") < F.col("a.value") + 50),
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_overlapping")
    )


@gate("""
            SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY ROLLUP(event_type)""")
def q11_rollup(spark, sf):
    return (
        _t(spark, sf, "events")
        .rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@gate("""
            SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                   count(*) AS n, round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1""")
def q12_week_buckets(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@gate("""
            SELECT DISTINCT user_id AS clean_user FROM events
            WHERE event_type = 'signup'
            EXCEPT ALL
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""")
def q13_set_except(spark, sf):
    ev = _t(spark, sf, "events")
    signup = ev.filter("event_type = 'signup'").select("user_id").distinct()
    errors = ev.filter("event_type = 'error'").select("user_id").distinct()
    return signup.exceptAll(errors).select(F.col("user_id").alias("clean_user"))


@gate(f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS} AS t FROM documents WHERE doc_id < 50)
            SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS token
            FROM toks, LATERAL unnest(range(1, len(t) + 1)) AS r(i)""")
def q14_exploded_tokens(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(T.tokens_col()).alias("pos", "token")
    ).withColumn("pos", (F.col("pos") + 1).cast("bigint"))


@gate("""
            SELECT event_type, CAST(year(ts) AS INT) AS yr, count(*) AS n,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY CUBE(event_type, year(ts))""")
def q15_cube(spark, sf):
    return (
        _t(spark, sf, "events")
        .cube("event_type", F.year("ts").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("value"), 4).alias("avg_value"))
    )


@gate("""
            WITH r AS (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT)
                       AS rk
              FROM orders)
            SELECT * FROM r WHERE rk <= 3""")
def q16_topk_per_group(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


@gate("""
            WITH h AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                       '\\s+', ' ', 'g')) AS harm
              FROM documents)
            SELECT doc_id, CAST(length(harm) AS BIGINT) AS harm_len,
                   substring(harm, 1, 20) AS harm_head
            FROM h""")
def q17_harmonize(spark, sf):
    """Text harmonization chain (the reference's only golden-pair tests
    live in its harmonization schema, custom/harmonizations/default.py:
    36-50): regexp_replace pipeline + trim + lowercase, applied to
    documents and grouped by outcome length."""
    docs = _t(spark, sf, "documents")
    harmonized = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[0-9]+", "#"),
                "\\s+", " ",
            )
        ).alias("harm"),
    )
    return harmonized.select(
        "doc_id",
        F.length("harm").cast("bigint").alias("harm_len"),
        F.substring("harm", 1, 20).alias("harm_head"),
    )


@gate("""
            SELECT o_orderkey,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        DATE '2025-01-01') AS BIGINT) AS age_days,
                   CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
                   strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                            '%Y-%m') AS plus3m
            FROM orders""")
def q18_date_arithmetic(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.datediff(F.lit("2025-01-01").cast("date"),
                       F.col("o_orderdate").cast("date"))
            .cast("bigint").alias("age_days"),
            F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
            F.date_format(F.add_months(F.col("o_orderdate"), 3), "yyyy-MM")
            .alias("plus3m"),
        )
    )


@gate("""
            WITH a AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type = 'click'),
                 b AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type = 'purchase'),
                 both_u AS (SELECT user_id FROM a INTERSECT
                            SELECT user_id FROM b),
                 either_u AS (SELECT user_id FROM a UNION
                              SELECT user_id FROM b)
            SELECT 'both' AS kind, count(*) AS n_users FROM both_u
            UNION ALL
            SELECT 'either' AS kind, count(*) AS n_users FROM either_u""")
def q19_union_intersect(spark, sf):
    ev = _t(spark, sf, "events")
    a = ev.filter("event_type = 'click'").select("user_id").distinct()
    b = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    return (
        a.intersect(b).withColumn("kind", F.lit("both"))
        .unionByName(
            a.union(b).distinct().withColumn("kind", F.lit("either"))
        )
        .groupBy("kind").agg(F.count(F.lit(1)).alias("n_users"))
    )


@gate("""
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY user_id""")
def q20_salted_groupby(spark, sf):
    """Two-phase skew-safe aggregation (SURVEY.md §4 skew handling):
    salt the hot key, partial-agg per (key, salt), then final agg.
    Must be value-identical to the direct groupBy — the oracle is the
    direct form."""
    ev = _t(spark, sf, "events")
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("psum"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("psum"), 2).alias("sum_value"),
    )


@gate("""
            SELECT o.o_orderkey, o.o_custkey,
                   round(o.o_totalprice, 2) AS price
            FROM orders o
            WHERE o.o_totalprice > 1.5 * (
                SELECT avg(i.o_totalprice) FROM orders i
                WHERE i.o_custkey = o.o_custkey)""")
def q21_correlated_subquery(spark, sf):
    """Orders above their customer's average price (decorrelation —
    Catalyst rewrites this to a join; the reference has no optimizer,
    SURVEY.md §4)."""
    # the formatter binds {o} to a uuid-named view it drops after
    # analysis, so overlapping builds share no catalog name
    return spark.sql("""
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice, 2) AS price
        FROM {o} o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(i.o_totalprice) FROM {o} i
            WHERE i.o_custkey = o.o_custkey)
    """, o=_t(spark, sf, "orders"))


@gate("""
            SELECT k % 10 AS k_mod, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k
            FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY k % 10""")
def q23_json_extract(spark, sf):
    """JSON scalar extraction from the events props column (string/json
    function family of the checklist)."""
    ev = _t(spark, sf, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"))
    )


@gate("""
            SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   count(*) AS n
            FROM events GROUP BY event_type""")
def q22_distinct_counts(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n"),
    )


@gate("""
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
              FROM lineitem GROUP BY l_suppkey),
            ranked AS (
              SELECT n_name, s_suppkey, s_name, revenue,
                     CAST(row_number() OVER (PARTITION BY n_name
                       ORDER BY revenue DESC, s_suppkey ASC) AS BIGINT) AS rk
              FROM rev
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey)
            SELECT n_name, s_suppkey, s_name, revenue
            FROM ranked WHERE rk = 1""")
def q24_top_supplier_per_nation(spark, sf):
    """Top revenue supplier per nation: big-side agg -> dim joins
    (nation broadcast) -> per-group top-1 window.  Completes table
    coverage (supplier was the one driver table no query touched).

    Parity note: ranking on a rounded float sum shares the known
    boundary hazard of every rounded-sum oracle here (q01/q03/q08) —
    engines summing in different orders could round a value straddling
    a .005 boundary differently.  Verified value-identical at sf0.001
    and sf0.01; the s_suppkey tie-break keeps equal-value ordering
    deterministic."""
    li = _t(spark, sf, "lineitem")
    s, n = _t(spark, sf, "supplier"), _t(spark, sf, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )
    j = (
        rev.join(s, rev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"),
                                             F.asc("s_suppkey"))
    return (
        j.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") == 1)
        .select("n_name", "s_suppkey", "s_name", "revenue")
    )
