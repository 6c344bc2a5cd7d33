"""Medium-tier operators (reference taxonomy: "Inner/Outer JOINs, GROUP BY
with aggregations, TUMBLE/HOP windows, deduplication" — estimation.html:
215-229, considerations.html:30-32).

Scale posture: fact-fact joins (orders x lineitem) shuffle on the join key and
benefit from AQE; dimension joins (nation/region/supplier) are explicitly
broadcast.  Event-time windows are computed as epoch-bucket columns, which is
exactly the batch shadow of Structured Streaming's window() operator
(streaming variants live in flink_estimator_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._helpers import REVENUE_SQL, TUMBLE_SQL, dec, revenue_expr, t
from .registry import query


@query(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum({REVENUE_SQL}) AS DOUBLE) AS sum_disc_price,
               CAST(sum({REVENUE_SQL} * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("medium", "aggregate", "tpch"),
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 pricing summary: the canonical wide-aggregate scan.  Averages
    are sum/count divisions so both engines divide identical exact doubles."""
    one = F.lit(1).cast("decimal(18,2)")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    cnt = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(revenue_expr()).cast("double").alias("sum_disc_price"),
            F.sum(revenue_expr() * (one + dec("l_tax"))).cast("double").alias("sum_charge"),
            (F.sum("l_quantity").cast("double") / cnt).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               CAST(sum({REVENUE_SQL}) AS DOUBLE) AS revenue,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    tags=("medium", "join", "aggregate", "tpch"),
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: 3-way join + aggregate + top-N (revenue ties broken by key)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
        SELECT n.n_name,
               CAST(sum({REVENUE_SQL}) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """,
    tags=("medium", "join", "aggregate", "tpch", "broadcast"),
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5: 6-way star join; dimension sides broadcast explicitly."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               CAST(sum({REVENUE_SQL}) AS DOUBLE) AS revenue,
               n.n_name,
               CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    tags=("medium", "join", "aggregate", "tpch"),
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top customers by returned-item revenue."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name", F.col("c_acctbal").cast("double"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q_join_left_order_counts",
    oracle="""
        SELECT c.c_custkey,
               count(o.o_orderkey) AS n_orders,
               CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
        ORDER BY c.c_custkey
    """,
    tags=("medium", "join", "outer"),
)
def q_join_left_order_counts(spark, sf_dir):
    """LEFT OUTER join keeping order-less customers (count of nulls = 0)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_join_right_customer_coverage",
    oracle="""
        SELECT c.c_custkey,
               c.c_mktsegment,
               count(o.o_orderkey) AS n_open_orders,
               CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS open_value
        FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o
        RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment
        ORDER BY c.c_custkey
    """,
    tags=("medium", "join", "outer", "right"),
)
def q_join_right_customer_coverage(spark, sf_dir):
    """RIGHT OUTER join (SURVEY §2.2 "Inner/Outer JOINs", reference join class
    at src/templates/estimation.html:215-229): open orders right-joined to
    customer so order-less customers survive on the null side (count 0,
    value 0).  Mirror of q_join_left_order_counts with the preserved side on
    the right — exercises Spark's how="right" plan path explicitly."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_open_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("open_value"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_join_full_nation_coverage",
    oracle="""
        WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
        SELECT CAST(coalesce(c.nk, s.nk) AS BIGINT) AS nationkey,
               coalesce(c.n_cust, 0) AS n_cust,
               coalesce(s.n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
        ORDER BY nationkey
    """,
    tags=("medium", "join", "outer"),
)
def q_join_full_nation_coverage(spark, sf_dir):
    """FULL OUTER join of two aggregates with disjoint key coverage."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full")
        .select(
            F.col("nk").cast("long").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "q_semi_join",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY c_custkey
    """,
    tags=("medium", "join", "semi"),
)
def q_semi_join(spark, sf_dir):
    """LEFT SEMI join (EXISTS): customers with at least one finished order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q_anti_join",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
    """,
    tags=("medium", "join", "anti"),
)
def q_anti_join(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "q_supplier_stats",
    oracle=f"""
        SELECT l_suppkey,
               count(*) AS n_items,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
               CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
               count(DISTINCT l_orderkey) AS n_orders,
               CAST(sum({REVENUE_SQL}) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY l_suppkey
        ORDER BY l_suppkey
    """,
    tags=("medium", "aggregate"),
)
def q_supplier_stats(spark, sf_dir):
    """Hash aggregation with count/sum/min/max/count-distinct (partial
    aggregation map-side, final after the shuffle)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.min("l_extendedprice").cast("double").alias("min_price"),
            F.max("l_extendedprice").cast("double").alias("max_price"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(revenue_expr()).cast("double").alias("revenue"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "q_tumble_window",
    oracle=TUMBLE_SQL,
    tags=("medium", "window-time", "tumble"),
)
def q_tumble_window(spark, sf_dir):
    """TUMBLE: 10-minute event-time windows (batch shadow of
    streaming ``F.window(ts, '10 minutes')``; see streaming.windows)."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes").start.cast("long")
    return (
        ev.groupBy(win.alias("win_start"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("win_start", "event_type")
    )


@query(
    "q_hop_window",
    oracle="""
        SELECT CAST(ws AS BIGINT) AS win_start,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (
            SELECT value,
                   unnest([floor(epoch(ts)/300)*300 - 300, floor(epoch(ts)/300)*300]) AS ws
            FROM events
        )
        GROUP BY 1
        ORDER BY win_start
    """,
    tags=("medium", "window-time", "hop"),
)
def q_hop_window(spark, sf_dir):
    """HOP: 10-minute windows sliding every 5 minutes — every event lands in
    two windows (``F.window(ts, size, slide)``)."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes").start.cast("long")
    return (
        ev.groupBy(win.alias("win_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("win_start")
    )


@query(
    "q_dedup_by_key",
    oracle="""
        SELECT user_id, event_type, event_id AS first_event_id,
               CAST(value AS DOUBLE) AS value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id, event_type
    """,
    tags=("medium", "dedup"),
)
def q_dedup_by_key(spark, sf_dir):
    """Deduplication by key, keeping the earliest event (deterministic
    tie-break on event_id) — batch shadow of
    ``dropDuplicatesWithinWatermark`` (see streaming.dedup)."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("value").cast("double"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "q_distinct_pairs",
    oracle="""
        SELECT DISTINCT user_id % 100 AS user_bucket, event_type
        FROM events
        ORDER BY user_bucket, event_type
    """,
    tags=("medium", "distinct"),
)
def q_distinct_pairs(spark, sf_dir):
    """DISTINCT over a computed key (hash-aggregate distinct)."""
    return (
        t(spark, sf_dir, "events")
        .select((F.col("user_id") % 100).alias("user_bucket"), "event_type")
        .distinct()
        .orderBy("user_bucket", "event_type")
    )
