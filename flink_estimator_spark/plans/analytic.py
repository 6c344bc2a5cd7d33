"""Complex-tier operators (reference taxonomy: "Complex event pattern
matching, multi-level window operations, UDFs, advanced analytical queries" —
estimation.html:231-245; plus set ops / sort-limit / grouping sets / JSON
implied by 'advanced analytical queries', SURVEY.md §2.2).

Analytic window functions keep their frames deterministic (unique ORDER BY
suffix) so both engines agree row-for-row.  The CEP pattern query is the batch
oracle of the streaming CEP operator in flink_estimator_spark.streaming.cep.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._helpers import (
    CEP_FUNNEL_SQL,
    DYNAMIC_GAP_SESSIONS_CTES,
    dec,
    revenue_expr,
    t,
)
from .registry import query


@query(
    "q_topk_per_group",
    oracle="""
        SELECT c_mktsegment, rk, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM (
            SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                   row_number() OVER (PARTITION BY c.c_mktsegment
                                      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        WHERE rk <= 3
        ORDER BY c_mktsegment, rk
    """,
    tags=("complex", "window-analytic", "topk"),
)
def q_topk_per_group(spark, sf_dir):
    """Top-K per group via ranked window (the scalable top-k idiom: no global
    sort, one shuffle on the partition key)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", F.col("o_totalprice").cast("double"))
        .orderBy("c_mktsegment", "rk")
    )


@query(
    "q_running_revenue",
    oracle="""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    OVER (PARTITION BY l_suppkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_revenue
        FROM lineitem
        WHERE l_suppkey <= 3
        ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    tags=("complex", "window-analytic", "frame"),
)
def q_running_revenue(spark, sf_dir):
    """Cumulative sum with an explicit ROWS frame (exact decimal arithmetic
    so the running values match bit-for-bit)."""
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(revenue_expr()).over(w).cast("double").alias("running_revenue"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@query(
    "q_lag_delta",
    oracle="""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(value AS DOUBLE) AS value,
               CAST(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS delta
        FROM events
        WHERE user_id < 20
        ORDER BY user_id, ts_us, event_id
    """,
    tags=("complex", "window-analytic", "lag"),
)
def q_lag_delta(spark, sf_dir):
    """LAG: per-user value delta vs the previous event."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("value").cast("double"),
            (F.col("value") - F.lag("value").over(w)).cast("double").alias("delta"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "q_sessionization",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE user_id < 50
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, event_id,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               epoch_us(min(ts)) AS sess_start_us,
               epoch_us(max(ts)) AS sess_end_us
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    tags=("complex", "window-time", "session"),
)
def q_sessionization(spark, sf_dir):
    """Batch sessionization (gaps-and-islands, 30-minute gap) — the batch
    shadow of ``F.session_window`` (see streaming.windows)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("sess_start_us"),
            F.unix_micros(F.max("ts")).alias("sess_end_us"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q_session_dynamic_gap",
    oracle=DYNAMIC_GAP_SESSIONS_CTES + """
        SELECT user_id, session_id, count(*) AS n_events,
               min(epoch_us(ts)) AS sess_start_us,
               max(epoch_us(ts) + gap_s * 1000000) AS sess_end_us
        FROM s
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    tags=("complex", "window-time", "session", "dynamic-gap"),
)
def q_session_dynamic_gap(spark, sf_dir):
    """Dynamic-gap sessionization (SURVEY §4's named hole): the inactivity
    gap is a per-event expression — purchases hold a session open 40 min,
    errors only 5, everything else 15.  An event starts a new session when
    its time reaches the running max of (ts + gap) over all earlier events
    (not just the previous one — a short-gap event may not extend the
    horizon a long-gap one already set).  Batch shadow of
    streaming.windows.session_agg_dynamic (F.session_window with a gap
    expression); same interval-merge semantics."""
    gap_s = (
        F.when(F.col("event_type") == "purchase", 2400)
        .when(F.col("event_type") == "error", 300)
        .otherwise(900)
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .withColumn("gap_s", gap_s.cast("long"))
        .withColumn("end_us", F.unix_micros("ts") + F.col("gap_s") * 1000000)
    )
    prev_end = F.max("end_us").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = ev.withColumn(
        "new_session",
        F.when(prev_end.isNull() | (F.unix_micros("ts") >= prev_end), 1).otherwise(0),
    )
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("sess_start_us"),
            F.max("end_us").alias("sess_end_us"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q_rollup",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               count(*) AS n,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls
    """,
    tags=("complex", "rollup"),
)
def q_rollup(spark, sf_dir):
    """ROLLUP with grouping-id (subtotal levels)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            F.col("gid").cast("long"),
            "n",
            "sum_qty",
        )
        .orderBy("gid", "rf", "ls")
    )


@query(
    "q_cube",
    oracle="""
        SELECT coalesce(event_type, 'ALL') AS etype,
               CAST(coalesce(CAST(hour(ts) AS BIGINT), -1) AS BIGINT) AS hr,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY CUBE(event_type, CAST(hour(ts) AS BIGINT))
        ORDER BY etype, hr
    """,
    tags=("complex", "cube"),
)
def q_cube(spark, sf_dir):
    """CUBE over (event_type, hour-of-day)."""
    ev = t(spark, sf_dir, "events").withColumn("hr", F.hour("ts").cast("long"))
    return (
        ev.cube("event_type", "hr")
        .agg(F.count("*").alias("n"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("hr", F.lit(-1)).cast("long").alias("hr"),
            "n",
            "sum_value",
        )
        .orderBy("etype", "hr")
    )


# one SQL text, run by both engines (Spark SQL surface vs DuckDB oracle)
_GROUPING_SETS_SQL = """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
    """


@query(
    "q_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    tags=("complex", "grouping-sets"),
)
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS with heterogeneous groupings (SQL surface)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "q_json_extract",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
        ORDER BY k_bucket
    """,
    tags=("complex", "json"),
)
def q_json_extract(spark, sf_dir):
    """JSON extraction from a string column (events.props)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .orderBy("k_bucket")
    )


@query(
    "q_set_ops",
    oracle="""
        SELECT 'union' AS op, count(*) AS n FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
            UNION
            SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
        UNION ALL
        SELECT 'intersect' AS op, count(*) AS n FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
        UNION ALL
        SELECT 'except' AS op, count(*) AS n FROM (
            SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        ORDER BY op
    """,
    tags=("complex", "set-ops"),
)
def q_set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT cardinalities in one result."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("k"))
    )
    b = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    rows = [
        o.union(b).distinct().agg(F.lit("union").alias("op"), F.count("*").alias("n")),
        o.intersect(b).agg(F.lit("intersect").alias("op"), F.count("*").alias("n")),
        b.exceptAll(o.distinct()).distinct().agg(
            F.lit("except").alias("op"), F.count("*").alias("n")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select("op", "n").orderBy("op")


@query(
    "q_scalar_subquery",
    oracle="""
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                  / count(*) FROM customer)
        ORDER BY c_custkey
    """,
    tags=("complex", "subquery"),
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar subquery: customers above the global mean balance (mean as
    exact-sum / count so both engines compare the same double)."""
    c = t(spark, sf_dir, "customer")
    avg_df = c.agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", F.col("c_acctbal").cast("double"))
        .orderBy("c_custkey")
    )


@query(
    "q_moving_avg",
    oracle="""
        SELECT user_id, event_id,
               CAST(sum(CAST(value AS DECIMAL(18,2)))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        FROM events
        WHERE user_id < 20
        ORDER BY user_id, event_id
    """,
    tags=("complex", "window-analytic", "frame"),
)
def q_moving_avg(spark, sf_dir):
    """Moving average over a 3-row sliding frame (exact sum / frame count)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            (F.sum(dec("value")).over(w).cast("double") / F.count("*").over(w)).alias("mov_avg"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q_ntile_rank",
    oracle="""
        SELECT o_orderkey,
               ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
               rank() OVER (ORDER BY o_orderpriority) AS prio_rank
        FROM orders
        WHERE o_orderkey <= 2000
        ORDER BY o_orderkey
    """,
    tags=("complex", "window-analytic", "rank"),
)
def q_ntile_rank(spark, sf_dir):
    """NTILE + RANK global windows (single-partition window — bounded input
    on purpose; the scalable variant partitions first, cf. q_topk_per_group)."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            # ranks surface as BIGINT everywhere (repo dtype-parity rule:
            # DuckDB window ranks are int64)
            F.ntile(4).over(W.orderBy("o_totalprice", "o_orderkey")).cast("long").alias("quartile"),
            F.rank().over(W.orderBy("o_orderpriority")).cast("long").alias("prio_rank"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_pivot_status",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_open,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_finished
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("complex", "pivot"),
)
def q_pivot_status(spark, sf_dir):
    """PIVOT (wide conditional aggregation)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0.0)).cast("double").alias("qty_open"),
            F.coalesce(F.col("F"), F.lit(0.0)).cast("double").alias("qty_finished"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_cep_funnel",
    oracle=CEP_FUNNEL_SQL,
    tags=("complex", "cep", "pattern"),
)
def q_cep_funnel(spark, sf_dir):
    """CEP pattern (signup followed by purchase within 24 h) as a batch
    interval self-join — the oracle for the streaming CEP operator
    (streaming.cep.FunnelDetector)."""
    ev = t(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        s.join(
            p,
            (F.col("p_user") == F.col("s_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts").cast("double") - F.col("s_ts").cast("double") <= 86400),
        )
        .groupBy(F.col("s_user").alias("user_id"))
        .agg(F.count("*").alias("n_conversions"))
        .orderBy("user_id")
    )


@query(
    "q_cep_three_step",
    oracle="""
        WITH s1 AS (
            SELECT user_id, ts, event_type,
                   min(CASE WHEN event_type = 'signup' THEN ts END)
                       OVER (PARTITION BY user_id) AS s_ts
            FROM events
        ),
        s2 AS (
            SELECT *, min(CASE WHEN event_type = 'view' AND ts > s_ts THEN ts END)
                          OVER (PARTITION BY user_id) AS v_ts
            FROM s1
        ),
        s3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > v_ts THEN ts END)
                          OVER (PARTITION BY user_id) AS p_ts
            FROM s2
        ),
        s4 AS (
            SELECT *, CAST(sum(CASE WHEN event_type = 'error'
                                     AND ts > s_ts AND ts < p_ts
                                    THEN 1 ELSE 0 END)
                               OVER (PARTITION BY user_id) AS BIGINT) AS n_err
            FROM s3
        )
        SELECT DISTINCT user_id,
               epoch_us(s_ts) AS signup_us,
               epoch_us(v_ts) AS view_us,
               epoch_us(p_ts) AS purchase_us
        FROM s4
        WHERE p_ts IS NOT NULL
          AND epoch(p_ts) - epoch(s_ts) <= 7200
          AND n_err = 0
        ORDER BY user_id
    """,
    tags=("complex", "cep", "pattern", "negation", "timeout"),
)
def q_cep_three_step(spark, sf_dir):
    """Three-step CEP with timeout and negation (the reference's "complex"
    class, estimation.html:231-245): earliest signup -> first later view ->
    first later purchase, the whole chain within 2 h of the signup, with NO
    error event strictly between signup and purchase.  Earliest-match
    semantics (one attempt per user), compiled by the k-step
    ``match_sequence`` to four chained partition-only window aggregates —
    one shuffle on user_id, no sort window, no self-join.  Its streaming
    dual is ``streaming.cep.sequence_matches`` with the same steps."""
    # function-local: operators.sequence imports the plans package, so a
    # module-level import breaks it as a first touch (tests/test_imports.py)
    from ..operators.sequence import match_sequence

    et = F.col("event_type")
    return (
        match_sequence(
            t(spark, sf_dir, "events"),
            steps=[et == "signup", et == "view", et == "purchase"],
            within_s=7200,
            absent=et == "error",
        )
        .select(
            "user_id",
            F.col("t0_us").alias("signup_us"),
            F.col("t1_us").alias("view_us"),
            F.col("t2_us").alias("purchase_us"),
        )
        .orderBy("user_id")
    )


@query(
    "q_percent_rank",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderpriority, pr, o_orderkey
    """,
    tags=("complex", "window-analytic", "distribution"),
)
def q_percent_rank(spark, sf_dir):
    """Relative-standing analytics: percent_rank + cume_dist of each order's
    price within its priority class.  The (o_totalprice, o_orderkey) sort
    key is unique, so ranks are tie-free and the (rank-1)/(n-1) ratio is the
    same IEEE division in both engines.  One shuffle on the partition key."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("o_orderpriority", "pr", "o_orderkey")
    )


@query(
    "q_grouped_concat",
    oracle="""
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               string_agg(CAST(l_partkey AS VARCHAR), ','
                          ORDER BY l_linenumber, l_partkey) AS part_seq
        FROM lineitem
        GROUP BY l_orderkey
        HAVING count(*) >= 7
        ORDER BY l_orderkey
    """,
    tags=("medium", "aggregate", "ordered-concat"),
)
def q_grouped_concat(spark, sf_dir):
    """Ordered grouped concatenation (SQL LISTAGG / string_agg): the part
    sequence of every 7-plus-line order, in (line-number, partkey) order —
    the fixture reuses line numbers within an order, so the tiebreak is part
    of the contract.  Spark has no ordered collect, so the deterministic
    idiom is collect_list of (linenumber, partkey) structs -> array_sort
    (lexicographic over fields) -> project + join — all built-ins, one
    aggregation shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_partkey"))
                    ),
                    lambda s: s.getField("l_partkey").cast("string"),
                ),
                ",",
            ).alias("part_seq"),
        )
        .filter(F.col("n_lines") >= 7)
        .orderBy("l_orderkey")
    )


@query(
    "q_set_ops_all",
    oracle="""
        SELECT 'intersect_all' AS op, count(*) AS n FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
            INTERSECT ALL
            SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT 'except_all' AS op, count(*) AS n FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
            EXCEPT ALL
            SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        ORDER BY op
    """,
    tags=("medium", "set-ops", "bag-semantics"),
)
def q_set_ops_all(spark, sf_dir):
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL —
    multiplicity-preserving, a different operator from the DISTINCT
    variants in q_set_ops): customer-key multisets of open vs urgent
    orders.  Spark implements both as a single aggregate computing
    per-key min/deficit multiplicities — one shuffle, no join."""
    o = t(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    urgent_k = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    rows = [
        ("intersect_all", open_k.intersectAll(urgent_k)),
        ("except_all", open_k.exceptAll(urgent_k)),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionByName(one)
    return out.orderBy("op")


@query(
    "q_value_histogram",
    oracle="""
        SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(value) AS DOUBLE) AS lo,
               CAST(max(value) AS DOUBLE) AS hi
        FROM events
        GROUP BY bin
        ORDER BY bin
    """,
    tags=("medium", "aggregate", "histogram"),
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values (bin = floor(v/10)): the
    map-side-combinable distribution profile — one shuffle of bin partials
    regardless of row count."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.floor(F.col("value") / 10.0).cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "q_corr_qty_price",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   CAST(count(*) AS DECIMAL(38,0)) AS n,
                   sum(CAST(CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sx,
                   sum(CAST(CAST(l_extendedprice * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sy,
                   sum(CAST(CAST(l_quantity AS DECIMAL(18,0))
                            * CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sxx,
                   sum(CAST(CAST(l_extendedprice * 100 AS DECIMAL(18,0))
                            * CAST(l_extendedprice * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS syy,
                   sum(CAST(CAST(l_quantity AS DECIMAL(18,0))
                            * CAST(l_extendedprice * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        FROM s
        ORDER BY l_returnflag
    """,
    tags=("complex", "statistics", "exact-aggregation"),
)
def q_corr_qty_price(spark, sf_dir):
    """Pearson correlation of quantity vs price per return flag, computed
    EXACTLY: built-in corr() accumulates doubles in partition order (not
    reproducible across engines/partitionings), so the five raw moments
    are summed as exact DECIMAL(38,0) over integer-scaled inputs
    (quantity integral; price has 2 decimals, x100 is exact), then one
    fixed-shape double expression produces the coefficient — the same
    order-independence discipline as the DECIMAL revenue sums, extended
    to second moments."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,0)")
    y = (F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    d38 = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(x.cast(d38)).alias("sx"),
        F.sum(y.cast(d38)).alias("sy"),
        F.sum((x * x).cast(d38)).alias("sxx"),
        F.sum((y * y).cast(d38)).alias("syy"),
        F.sum((x * y).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    corr = (nd * sxy - sx * sy) / F.sqrt(
        (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        corr.alias("corr"),
    ).orderBy("l_returnflag")


@query(
    "q_cohort_retention",
    oracle="""
        WITH m AS (
            SELECT o_custkey,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                        AS BIGINT) AS mi
            FROM orders),
        f AS (SELECT o_custkey, min(mi) AS c_mi FROM m GROUP BY o_custkey),
        a AS (SELECT DISTINCT o_custkey, mi FROM m),
        j AS (SELECT f.c_mi, a.mi - f.c_mi AS offset_m, a.o_custkey
              FROM f JOIN a ON f.o_custkey = a.o_custkey)
        SELECT printf('%04d-%02d', c_mi // 12, c_mi % 12 + 1) AS cohort,
               CAST(offset_m AS BIGINT) AS offset_m,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active
        FROM j GROUP BY c_mi, offset_m
        ORDER BY cohort, offset_m
    """,
    tags=("complex", "aggregate", "cohort"),
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: customers grouped by first-order month,
    counted distinct in each subsequent activity month — the canonical
    retention triangle.  Month indexes are pure integer arithmetic
    (year*12 + month - 1), so offsets are engine-exact; the cohort label
    renders through the same printf format both engines implement.  Two
    aggregates and one join, all shuffled on the customer key (the
    activity-distinct and first-order aggregates co-partition with the
    join), then a (cohort, offset) rollup of distinct customers —
    calendar-bounded output (< months² rows) whatever the fact size."""
    o = t(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("mi"),
    )
    f = m.groupBy("o_custkey").agg(F.min("mi").alias("c_mi"))
    a = m.distinct()
    j = f.join(a, "o_custkey").select(
        "c_mi", (F.col("mi") - F.col("c_mi")).alias("offset_m"), "o_custkey"
    )
    cohort = F.format_string(
        "%04d-%02d",
        F.floor(F.col("c_mi") / 12).cast("long"),
        (F.pmod(F.col("c_mi"), 12) + 1).cast("long"),
    )
    return (
        j.groupBy("c_mi", "offset_m")
        .agg(F.count_distinct("o_custkey").alias("n_active"))
        .select(cohort.alias("cohort"), "offset_m", "n_active")
        .orderBy("cohort", "offset_m")
    )


@query(
    "q_event_transitions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY epoch_us(ts), event_id)
                       AS next_type
            FROM events)
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS DOUBLE)
                   / sum(count(*)) OVER (PARTITION BY event_type) AS p
        FROM ordered
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY from_type, to_type
    """,
    tags=("complex", "window-analytic", "markov"),
)
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: for every
    (event_type -> next event_type) bigram within a user's timeline, the
    count and row-normalized transition probability.  One shuffle on the
    user key feeds the lead() window; the matrix itself is |types|² rows,
    so the normalizing window runs over aggregate rows only.  The
    probability is one BIGINT/BIGINT division per cell — engine-exact."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = ordered.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / total).alias("p"),
    ).orderBy("from_type", "to_type")


@query(
    "q_conversion_latency",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                       AS s_us,
                   min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                       AS p_us
            FROM events GROUP BY user_id)
        SELECT CAST((p_us - s_us) // 600000000 AS BIGINT) AS bucket_10min,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(min(p_us - s_us) AS BIGINT) AS min_us,
               CAST(max(p_us - s_us) AS BIGINT) AS max_us
        FROM firsts
        WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
        GROUP BY bucket_10min
        ORDER BY bucket_10min
    """,
    tags=("complex", "funnel", "latency"),
)
def q_conversion_latency(spark, sf_dir):
    """Time-to-convert distribution: per user, first signup to first
    purchase, bucketed into 10-minute latency bins — the funnel-velocity
    profile behind activation dashboards.  One conditional aggregate per
    user (map-side combinable min of two CASEs), then a bin rollup; all
    arithmetic in integer micros, so bins are engine-exact."""
    ev = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    delta = F.col("p_us") - F.col("s_us")
    return (
        firsts.filter(
            F.col("s_us").isNotNull()
            & F.col("p_us").isNotNull()
            & (F.col("p_us") >= F.col("s_us"))
        )
        .groupBy(F.floor(delta / 600_000_000).cast("bigint").alias("bucket_10min"))
        .agg(
            F.count("*").alias("n_users"),
            F.min(delta).alias("min_us"),
            F.max(delta).alias("max_us"),
        )
        .orderBy("bucket_10min")
    )


@query(
    "q_order_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT o_custkey,
                   epoch_us(o_orderdate) // 86400000000 AS d
            FROM orders),
        r AS (
            SELECT o_custkey, d,
                   d - row_number() OVER (PARTITION BY o_custkey ORDER BY d)
                       AS grp
            FROM days),
        s AS (
            SELECT o_custkey, grp, count(*) AS len, min(d) AS start_d
            FROM r GROUP BY o_custkey, grp)
        SELECT o_custkey,
               CAST(max(len) AS BIGINT) AS max_streak,
               CAST(count(*) AS BIGINT) AS n_streaks,
               CAST(min(start_d) AS BIGINT) AS first_day
        FROM s GROUP BY o_custkey
        HAVING max(len) >= 2
        ORDER BY o_custkey
    """,
    tags=("complex", "window-analytic", "gaps-and-islands"),
)
def q_order_streaks(spark, sf_dir):
    """Gaps-and-islands: each customer's longest streak of CONSECUTIVE
    order days, via the classic (day - row_number) island key — rows in an
    unbroken run share the difference, so one per-key window plus two
    aggregates finds every island without self-joins.  Day indexes are
    integer epoch-day division (engine-exact); only streak-holders (>= 2
    days) emit.  One shuffle on the customer key serves the distinct, the
    numbering window, and both aggregates — they share partitioning."""
    o = t(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("d"),
    ).distinct()
    w = W.partitionBy("o_custkey").orderBy("d")
    r = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    s = r.groupBy("o_custkey", "grp").agg(
        F.count("*").alias("len"), F.min("d").alias("start_d")
    )
    return (
        s.groupBy("o_custkey")
        .agg(
            F.max("len").alias("max_streak"),
            F.count("*").alias("n_streaks"),
            F.min("start_d").alias("first_day"),
        )
        .filter(F.col("max_streak") >= 2)
        .orderBy("o_custkey")
    )


@query(
    "q_click_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE e3 IS NOT NULL
        GROUP BY e1, e2, e3
        ORDER BY n DESC, e1, e2, e3
        LIMIT 50
    """,
    tags=("analytic", "sequence", "clickstream"),
)
def q_click_trigrams(spark, sf_dir):
    """Top-50 behavioral trigrams: the three-step event paths users take
    most, from per-user time-ordered lead(1)/lead(2) — the sequence-mining
    complement of q_event_transitions' first-order Markov matrix (bigrams
    assume one-step memory; trigram counts expose where that assumption
    breaks).  Shape: both leads share ONE window sort per user partition,
    then a low-cardinality trigram aggregate with map-side partials; the
    final top-50 is a TakeOrdered on |event_type|^3 rows, not a global
    sort of the stream."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(50)
    )


@query(
    "q_variant_extract",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
               CAST(sum(CASE WHEN json_extract(props, '$.absent') IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        FROM events
        GROUP BY 1
        ORDER BY k_bucket
    """,
    tags=("complex", "json", "variant"),
)
def q_variant_extract(spark, sf_dir):
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extractions — the columnar-friendly successor to
    per-path ``get_json_object`` string re-parsing (q_json_extract keeps
    the classic path; a migrating user needs both).  ``try_variant_get``
    on a missing path documents the null-not-error contract.  The oracle
    reaches the same values through DuckDB's JSON functions — engine-
    portable semantics over a non-portable encoding."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    missing = F.expr("try_variant_get(v, '$.absent', 'bigint')")
    return (
        v.select(k.alias("k"), missing.alias("m"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
        )
        .orderBy("k_bucket")
    )


@query(
    "q_attribution_linear",
    oracle="""
        WITH touches AS (
            SELECT user_id, event_id AS touch_id, event_type AS channel,
                   epoch_us(ts) AS t_us
            FROM events WHERE event_type IN ('view', 'click')),
        conv AS (
            SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_us,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_cents
            FROM events WHERE event_type = 'purchase'),
        credited AS (
            SELECT conv.conv_id, conv.rev_cents, touches.channel,
                   count(*) OVER (PARTITION BY conv.conv_id) AS n_touch
            FROM conv JOIN touches
              ON touches.user_id = conv.user_id
             AND touches.t_us <= conv.c_us
             AND touches.t_us > conv.c_us - 86400000000)
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_credits,
               CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
               CAST(sum((rev_cents * 1000000) // n_touch) AS BIGINT)
                   AS credit_cents_q6
        FROM credited
        GROUP BY channel
        ORDER BY channel
    """,
    tags=("analytic", "attribution", "marketing"),
)
def q_attribution_linear(spark, sf_dir):
    """LINEAR multi-touch attribution: each purchase's revenue splits
    equally across every view/click touch in the preceding 24 h, credits
    rolled up per channel — the marketing-analytics workload behind spend
    allocation (single-touch last-click is the degenerate case; the as-of
    join family covers it).  The touch-conversion pairing is a bounded
    INTERVAL join on (user, 24 h window) — watermark-state shaped, never
    all-history — and the per-conversion split uses integer micro-credits
    ((rev * 1e6) DIV n_touch) so the totals are exact in any engine
    (floating splits would drift on the re-sum).  The n_touch count is a
    conversion-partitioned window on the joined relation, reusing the
    join's own shuffle."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        us.alias("t_us"),
    )
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        us.alias("c_us"),
        (dec("value") * 100).cast("bigint").alias("rev_cents"),
    )
    credited = conv.join(
        touches,
        (touches.user_id == conv.user_id)
        & (touches.t_us <= conv.c_us)
        & (touches.t_us > conv.c_us - 86_400_000_000),
    ).select("conv_id", "rev_cents", "channel")
    n_touch = F.count("*").over(W.partitionBy("conv_id"))
    return (
        credited.withColumn("n_touch", n_touch)
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_credits"),
            F.countDistinct("conv_id").alias("n_conversions"),
            # per-term bound proof (no DECIMAL needed on the product):
            # rev_cents is ONE purchase event's value — per-row, not
            # corpus-scaled — so ×1e6 overflows only past ~$92B per single
            # purchase.  The SUM of micro-credits IS corpus-scaled, and
            # Spark's sum(LONG) accumulates in LONG (DuckDB promotes to
            # HUGEINT) — accumulate in DECIMAL(38,0) so both engines agree
            # up to the BIGINT output boundary, where both fail loud.
            F.sum(
                F.expr(
                    "CAST((rev_cents * 1000000) DIV n_touch AS DECIMAL(38,0))"
                )
            )
            .cast("bigint")
            .alias("credit_cents_q6"),
        )
        .orderBy("channel")
    )


@query(
    "q_seasonal_index",
    oracle="""
        WITH m AS (
            SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS rev_cents
            FROM orders GROUP BY 1),
        tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM m)
        SELECT mo, rev_cents,
               CAST((CAST(rev_cents AS HUGEINT) * 12 * 1000000) // tot.total
                    AS BIGINT) AS seasonal_index_q6
        FROM m CROSS JOIN tot
        ORDER BY mo
    """,
    tags=("analytic", "calendar", "seasonality"),
)
def q_seasonal_index(spark, sf_dir):
    """Monthly seasonal indices: each calendar month's revenue relative to
    a uniform month (1e6 = exactly average, the classic seasonality
    normalization demand planning applies before trend fitting).  Exact to
    the last unit: cents are DECIMAL-summed and the index is one integer
    expression ((rev x 12 x 1e6) DIV total) — no ratio-of-doubles.  One
    partial-combined aggregate to 12 rows plus a broadcast scalar."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").cast("bigint").alias("mo")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("rev_cents")
    )
    tot = m.agg(F.sum("rev_cents").alias("total"))
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "mo",
            "rev_cents",
            # rev_cents is a MONTHLY corpus sum (~1e16 cents at 100 TB);
            # ×12e6 overflows BIGINT — DECIMAL(38,0) product / HUGEINT
            # oracle; the index quotient itself is ≤ 12e6.
            F.expr(
                "(CAST(rev_cents AS DECIMAL(38,0)) * 12 * 1000000) DIV total"
            ).alias("seasonal_index_q6"),
        )
        .orderBy("mo")
    )


@query(
    "q_rfm_by_nation",
    oracle="""
        WITH base AS (
            SELECT c.c_custkey, c.c_nationkey,
                   CAST(date_diff('day', max(o.o_orderdate),
                                  TIMESTAMP '1998-12-31 00:00:00') AS BIGINT)
                       AS recency_d,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS monetary_cents
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_nationkey),
        ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY recency_d, c_custkey) AS rr,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY frequency DESC, c_custkey) AS rf,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY monetary_cents DESC, c_custkey) AS rm,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM base)
        SELECT c_custkey,
               CAST(1 + (5 * (rr - 1)) // n AS BIGINT) AS r_score,
               CAST(1 + (5 * (rf - 1)) // n AS BIGINT) AS f_score,
               CAST(1 + (5 * (rm - 1)) // n AS BIGINT) AS m_score,
               recency_d, frequency, monetary_cents
        FROM ranked
        ORDER BY c_custkey
    """,
    tags=("analytic", "rfm", "segmentation"),
)
def q_rfm_by_nation(spark, sf_dir):
    """RFM customer segmentation: quintile scores for Recency (days since
    last order, fresher is better), Frequency, and Monetary value — the
    standard CRM scoring.  Quintiles come from an integer rank protocol
    (1 + 5(rank−1) DIV n) rather than NTILE so the cut points are
    engine-identical on ties, and every rank is PARTITIONED BY NATION —
    the scoring parallelizes across nations at any customer count, the
    plan-audit-compliant form of per-population ranking.  One join +
    aggregate + three windows on one partitioning."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.datediff(
                F.lit("1998-12-31").cast("timestamp"), F.max("o_orderdate")
            )
            .cast("bigint")
            .alias("recency_d"),
            F.count("*").alias("frequency"),
            (F.sum(dec("o_totalprice")) * 100)
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    wn = W.partitionBy("c_nationkey")
    ranked = base.select(
        "c_custkey",
        "recency_d",
        "frequency",
        "monetary_cents",
        F.row_number().over(wn.orderBy("recency_d", "c_custkey")).alias("rr"),
        F.row_number()
        .over(wn.orderBy(F.desc("frequency"), "c_custkey"))
        .alias("rf"),
        F.row_number()
        .over(wn.orderBy(F.desc("monetary_cents"), "c_custkey"))
        .alias("rm"),
        F.count("*").over(wn).alias("n"),
    )
    score = lambda r: F.expr(f"1 + (5 * ({r} - 1)) DIV n")  # noqa: E731
    return (
        ranked.select(
            "c_custkey",
            score("rr").alias("r_score"),
            score("rf").alias("f_score"),
            score("rm").alias("m_score"),
            "recency_d",
            "frequency",
            "monetary_cents",
        )
        .orderBy("c_custkey")
    )


@query(
    "q_basket_rules",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                     FROM li),
        item AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
            FROM li GROUP BY 1),
        pair AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   CAST(count(*) AS BIGINT) AS n_pair
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT pa, pb, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
               CAST((CAST(n_pair AS HUGEINT) * 1000000) // ia.n_item
                    AS BIGINT) AS confidence_a_to_b_q6,
               CAST((CAST(n_pair AS HUGEINT) * n_orders.n * 1000000)
                    // (CAST(ia.n_item AS HUGEINT) * ib.n_item)
                    AS BIGINT) AS lift_q6
        FROM pair
        JOIN item ia ON ia.l_partkey = pa
        JOIN item ib ON ib.l_partkey = pb
        CROSS JOIN n_orders
        ORDER BY lift_q6 DESC, pa, pb
        LIMIT 50
    """,
    tags=("complex", "market-basket", "association-rules"),
)
def q_basket_rules(spark, sf_dir):
    """Association rules over the co-purchase graph: confidence(a→b) and
    lift for every part pair with support ≥ 3, top-50 by lift — the rule-
    scoring step that turns q_copurchase_pairs' support counts into
    actionable "customers who bought A buy B k× more than chance".  Both
    metrics are integer expressions over exact counts ((n_ab·N·1e6) DIV
    (n_a·n_b)) — no probability doubles — so rule rankings value-gate in
    any engine.  Basket-array pair generation (single shuffle) + two
    broadcast item-count joins + a scalar order count."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    return (
        pair.join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("pa"), F.col("n_item").alias("n_a"))
            ),
            "pa",
        )
        .join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("pb"), F.col("n_item").alias("n_b"))
            ),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "n_pair",
            "n_a",
            "n_b",
            # lift's numerator is pairs×orders×1e6 (~1e29 at 100 TB) and
            # its DIVISOR n_a*n_b alone exceeds BIGINT (~1e22) — both
            # routed through DECIMAL(38,0)/HUGEINT; the lift quotient is
            # ≤ N·1e6/max(n_a,n_b), comfortably BIGINT.
            F.expr(
                "(CAST(n_pair AS DECIMAL(38,0)) * 1000000) DIV n_a"
            ).alias("confidence_a_to_b_q6"),
            F.expr(
                "(CAST(n_pair AS DECIMAL(38,0)) * n * 1000000)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).alias("lift_q6"),
        )
        .orderBy(F.desc("lift_q6"), "pa", "pb")
        .limit(50)
    )


@query(
    "q_new_vs_returning",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS first_d
            FROM events GROUP BY user_id),
        daily AS (
            SELECT CAST(e.ts AS DATE) AS d, e.user_id,
                   CASE WHEN CAST(e.ts AS DATE) = f.first_d THEN 1 ELSE 0 END
                       AS is_new
            FROM events e JOIN firsts f ON e.user_id = f.user_id)
        SELECT CAST(strftime(d, '%Y-%m-%d') AS VARCHAR) AS day,
               CAST(count(DISTINCT CASE WHEN is_new = 1 THEN user_id END)
                    AS BIGINT) AS new_users,
               CAST(count(DISTINCT CASE WHEN is_new = 0 THEN user_id END)
                    AS BIGINT) AS returning_users
        FROM daily
        GROUP BY d
        ORDER BY day
    """,
    tags=("analytic", "growth", "cohort"),
)
def q_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning user split — the growth-accounting topline
    (every DAU chart decomposes this way).  A user's first-ever active day
    comes from one per-user aggregate; each (day, user) then classifies by
    comparing against it, and the daily distinct counts partial-combine.
    Day keys emit as strings (no raw dates cross the gate).  Two keyed
    aggregates + one broadcast-back join; at 100 TB the firsts relation is
    the user-dimension incremental table a production pipeline maintains
    instead of rescanning history."""
    e = t(spark, sf_dir, "events")
    firsts = (
        e.select("user_id", F.col("ts").cast("date").alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"))
    )
    daily = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).join(firsts, "user_id")
    is_new = F.col("d") == F.col("first_d")
    return (
        daily.groupBy("d")
        .agg(
            F.countDistinct(F.when(is_new, F.col("user_id"))).alias("new_users"),
            F.countDistinct(F.when(~is_new, F.col("user_id"))).alias(
                "returning_users"
            ),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "new_users",
            "returning_users",
        )
        .orderBy("day")
    )


@query(
    "q_gini_by_nation",
    oracle="""
        WITH rev AS (
            SELECT c.c_nationkey, c.c_custkey,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS cents
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2),
        ranked AS (
            SELECT c_nationkey, cents,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY cents, c_custkey) AS i,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM rev)
        SELECT c_nationkey,
               CAST(max(n) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(floor(
                   (2.0 * CAST(sum(CAST(i AS DECIMAL(38,0))
                                   * CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                    / (max(n) * CAST(sum(CAST(cents AS DECIMAL(38,0)))
                                     AS DOUBLE))
                    - (max(n) + 1.0) / max(n)) * 1000000
               ) AS BIGINT) AS gini_q6
        FROM ranked
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    tags=("analytic", "inequality", "gini"),
)
def q_gini_by_nation(spark, sf_dir):
    """Gini coefficient of customer revenue concentration per nation — the
    inequality metric behind whale-risk and marketplace-health dashboards
    (G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted spend).  The
    rank-weighted sum accumulates in DECIMAL(38,0) (exact,
    order-independent), the final expression is a fixed IEEE sequence on
    those exact values, floor-quantized to 1e-6.  Ranks are PARTITIONED BY
    NATION — per-partition sort input is customers-per-nation, so the
    computation parallelizes across nations; ties on cents break on the
    unique customer key identically in both engines."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg((F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents"))
    )
    wn = W.partitionBy("c_nationkey")
    ranked = rev.select(
        "c_nationkey",
        "cents",
        F.row_number().over(wn.orderBy("cents", "c_custkey")).alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    d38 = "decimal(38,0)"
    sum_ix = F.sum(F.col("i").cast(d38) * F.col("cents").cast(d38)).cast("double")
    sum_x = F.sum(F.col("cents").cast(d38)).cast("double")
    n = F.max("n")
    gini = (2.0 * sum_ix / (n * sum_x) - (n + 1.0) / n) * 1_000_000
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.floor(gini).cast("bigint").alias("gini_q6"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q_sla_attainment",
    oracle="""
        WITH lines AS (
            SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
                   CAST(month(o.o_orderdate) AS BIGINT) AS mo,
                   CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                        AS BIGINT) AS lat_d
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        SELECT yr, mo,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN lat_d <= 30 THEN 1 ELSE 0 END) AS BIGINT)
                   AS within_30d,
               CAST(sum(CASE WHEN lat_d <= 60 THEN 1 ELSE 0 END) AS BIGINT)
                   AS within_60d,
               CAST(sum(CASE WHEN lat_d <= 30 THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS sla30_q6
        FROM lines
        GROUP BY yr, mo
        ORDER BY yr, mo
    """,
    tags=("analytic", "sla", "operations"),
)
def q_sla_attainment(spark, sf_dir):
    """Monthly shipping-SLA attainment: the share of line items shipped
    within 30/60 days of their order, per order month — the operations
    scorecard pattern (threshold counting over a lag distribution,
    complementing q_conversion_latency's full histogram).  The fact join
    runs on the natural order key (co-partitioned at scale via bucketing),
    the latency classifies scan-side, and the per-month rollup
    partial-combines; attainment is integer micro-share arithmetic —
    exact, like every ratio in this inventory."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("lat_d"),
    )
    w30 = F.sum(F.when(F.col("lat_d") <= 30, 1).otherwise(0))
    return (
        lines.groupBy("yr", "mo")
        .agg(
            F.count("*").alias("n_lines"),
            w30.cast("bigint").alias("within_30d"),
            F.sum(F.when(F.col("lat_d") <= 60, 1).otherwise(0))
            .cast("bigint")
            .alias("within_60d"),
            F.expr(
                "sum(CASE WHEN lat_d <= 30 THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*)"
            ).alias("sla30_q6"),
        )
        .orderBy("yr", "mo")
    )
