"""Flink window-TVF parity: CUMULATE, window top-N, window join, window
deduplication, and the temporal (versioned-dimension) join.

The reference's medium/complex classes name "TUMBLE/HOP windows" and
"Multi-level window operations" (`/root/reference/src/templates/
estimation.html:215-245`); Flink SQL's windowing surface that those classes
model is the window-TVF family — TUMBLE, HOP, CUMULATE, SESSION — plus the
canonical patterns Flink documents on top of them (window top-N, window
join, window deduplication) and the temporal join (`FOR SYSTEM_TIME AS OF`).
TUMBLE/HOP/SESSION live in plans.medium / plans.analytic; this module adds
the rest, each as stock Catalyst plans:

* CUMULATE has no Spark built-in.  A cumulate window [start, start+j*step)
  is expressed by exploding each event into the sub-windows that contain it
  (j = ceil(offset/step) .. size/step) and aggregating by (window, j) — one
  explode + one shuffle, identical cost shape to HOP's per-event fan-out,
  and the same trick works under a watermark in streaming
  (streaming.windows.cumulate_agg).
* Window top-N / join / dedup are compositions of the tumble bucket with
  rank / equi-join / first-row-per-key — no custom state.
* The temporal join probes the SCD2 validity intervals built by
  operators.scd.scd2_from_log: equi-join on the key plus an interval
  predicate, executed as a key-partitioned join (scales with the key
  cardinality, never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ._helpers import dec, t, temporal_probe_oracle
from .registry import query

# 30-minute cumulate windows advancing in 10-minute steps
_CUM_SIZE_S = 1800
_CUM_STEP_S = 600
_CUM_STEPS = _CUM_SIZE_S // _CUM_STEP_S


@query(
    "q_cumulate_window",
    oracle=f"""
        SELECT win_start,
               win_start + 600 * j AS win_end,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (
            SELECT CAST(floor(epoch(ts)/{_CUM_SIZE_S})*{_CUM_SIZE_S} AS BIGINT) AS win_start,
                   CAST(floor((epoch(ts) - floor(epoch(ts)/{_CUM_SIZE_S})*{_CUM_SIZE_S})/{_CUM_STEP_S}) + 1 AS BIGINT) AS jmin,
                   value
            FROM events
        ) e
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) s
        WHERE s.j >= e.jmin
        GROUP BY 1, 2
        ORDER BY win_start, win_end
    """,
    tags=("complex", "window-time", "cumulate"),
)
def q_cumulate_window(spark, sf_dir):
    """CUMULATE(ts, step 10 min, size 30 min): each 30-minute window emits
    expanding partials [start, start+10m), [start, start+20m),
    [start, start+30m) — Flink's early-firing cumulative aggregation,
    expressed as explode-into-sub-windows + one grouped aggregate."""
    ev = t(spark, sf_dir, "events")
    e = F.unix_timestamp("ts")
    ws = (F.floor(e / _CUM_SIZE_S) * _CUM_SIZE_S).cast("long")
    jmin = (F.floor((e - ws) / _CUM_STEP_S) + 1).cast("int")
    return (
        ev.select(
            ws.alias("win_start"),
            F.explode(F.sequence(jmin, F.lit(_CUM_STEPS))).alias("j"),
            "value",
        )
        .groupBy(
            "win_start",
            (F.col("win_start") + F.col("j") * _CUM_STEP_S).alias("win_end"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("win_start", "win_end")
    )


@query(
    "q_window_topn",
    oracle="""
        SELECT win_start, user_id, n, sum_value, rk
        FROM (
            SELECT win_start, user_id, n, CAST(sv AS DOUBLE) AS sum_value,
                   row_number() OVER (PARTITION BY win_start
                                      ORDER BY sv DESC, user_id) AS rk
            FROM (
                SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS win_start,
                       user_id, count(*) AS n,
                       sum(CAST(value AS DECIMAL(18,2))) AS sv
                FROM events
                GROUP BY 1, 2
            )
        )
        WHERE rk <= 3
        ORDER BY win_start, rk
    """,
    tags=("complex", "window-time", "topn"),
)
def q_window_topn(spark, sf_dir):
    """Window top-N (Flink's canonical window-TVF + ROW_NUMBER pattern):
    top-3 users by windowed value sum inside every 10-minute tumble.
    Ranking runs on the exact DECIMAL sum; the double cast is output-only."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes").start.cast("long")
    agg = ev.groupBy(win.alias("win_start"), "user_id").agg(
        F.count("*").alias("n"), F.sum(dec("value")).alias("sv")
    )
    rk = F.row_number().over(
        W.partitionBy("win_start").orderBy(F.desc("sv"), "user_id")
    ).cast("long")
    return (
        agg.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            "win_start", "user_id", "n",
            F.col("sv").cast("double").alias("sum_value"), "rk",
        )
        .orderBy("win_start", "rk")
    )


@query(
    "q_window_join",
    oracle="""
        SELECT v.win_start, v.user_id,
               v.event_id AS view_id, p.event_id AS purchase_id
        FROM (SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS win_start,
                     user_id, event_id
              FROM events WHERE event_type = 'view') v
        JOIN (SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS win_start,
                     user_id, event_id
              FROM events WHERE event_type = 'purchase') p
          ON v.win_start = p.win_start AND v.user_id = p.user_id
        ORDER BY v.win_start, v.user_id, view_id, purchase_id
    """,
    tags=("complex", "window-time", "join"),
)
def q_window_join(spark, sf_dir):
    """Window join (Flink window-TVF join): views and purchases of the same
    user inside the same 10-minute tumble window.  Bounding the join to the
    window key is what keeps stream-stream join state finite — the batch
    plan equi-joins on (window, user), so the shuffle is co-partitioned on
    exactly the state key the streaming dual would use."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes").start.cast("long")
    v = ev.filter(F.col("event_type") == "view").select(
        win.alias("win_start"), "user_id", F.col("event_id").alias("view_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        win.alias("win_start"), "user_id",
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(p, ["win_start", "user_id"]).orderBy(
        "win_start", "user_id", "view_id", "purchase_id"
    )


@query(
    "q_window_dedup",
    oracle="""
        SELECT win_start, user_id, event_id, event_type, ts_us
        FROM (
            SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS win_start,
                   user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                   row_number() OVER (
                       PARTITION BY CAST(floor(epoch(ts)/600)*600 AS BIGINT), user_id
                       ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY win_start, user_id
    """,
    tags=("complex", "window-time", "dedup"),
)
def q_window_dedup(spark, sf_dir):
    """Window deduplication (Flink window-TVF dedup): the first event per
    (10-minute window, user).  Unlike global dedup-by-key, the window bound
    is what lets streaming state expire — the batch shape is one
    rank-and-filter over the co-partitioned (window, user) key."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes").start.cast("long")
    rn = F.row_number().over(
        W.partitionBy("win_start", "user_id").orderBy("ts", "event_id")
    )
    return (
        ev.select(
            win.alias("win_start"), "user_id", "event_id", "event_type",
            F.unix_micros("ts").alias("ts_us"), "ts",
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("win_start", "user_id", "event_id", "event_type", "ts_us")
        .orderBy("win_start", "user_id")
    )


@query(
    "q_temporal_join",
    oracle=temporal_probe_oracle(
        "p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,"
        " CAST(v.value AS DOUBLE) AS state_value,"
        " v.valid_from_us AS version_us"
    ),
    tags=("complex", "join", "temporal", "scd2"),
)
def q_temporal_join(spark, sf_dir):
    """Temporal join (Flink `FOR SYSTEM_TIME AS OF`): each purchase probes
    the SCD2 version of the user's state (built from their view events by
    operators.scd.scd2_from_log) valid at purchase time.  Executed as an
    equi-join on the key with the validity interval as a residual join
    predicate — partitioned by user, never all-pairs, and at most one
    version matches per probe by construction of the intervals."""
    from ..operators.scd import scd2_from_log

    ev = t(spark, sf_dir, "events")
    # both sides derive from the same scan — rename the dim columns up front
    # so the join condition binds unambiguously
    dim = scd2_from_log(ev.filter(F.col("event_type") == "view")).select(
        F.col("user_id").alias("d_user_id"),
        F.col("value").alias("d_value"),
        "valid_from_us",
        "valid_to_us",
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("purchase_us")
    )
    cond = (
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("purchase_us") >= F.col("valid_from_us"))
        & (F.col("valid_to_us").isNull() | (F.col("purchase_us") < F.col("valid_to_us")))
    )
    return (
        probe.join(dim, cond, "left")
        .select(
            "event_id",
            "user_id",
            "purchase_us",
            F.col("d_value").cast("double").alias("state_value"),
            F.col("valid_from_us").alias("version_us"),
        )
        .orderBy("event_id")
    )


@query(
    "q_count_window",
    oracle="""
        WITH numbered AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS rn
            FROM events),
        w AS (
            SELECT user_id, (rn - 1) // 3 AS win_id, event_id, value
            FROM numbered)
        SELECT user_id, CAST(win_id AS BIGINT) AS win_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(event_id) AS BIGINT) AS first_event,
               CAST(max(event_id) AS BIGINT) AS last_event,
               CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM w
        GROUP BY user_id, win_id
        ORDER BY user_id, win_id
    """,
    tags=("complex", "window-tvf", "count-window", "flink-parity"),
)
def q_count_window(spark, sf_dir):
    """Flink COUNT window (countWindow(3)): per-user tumbling windows of 3
    events in (time, id) order — the window closes on element COUNT, not on
    time, an operator Spark has no native TVF for.  The batch form is a
    row_number -> integer-division bucket -> aggregate: one shuffle on the
    user key serves both the numbering window and the aggregate (same
    partitioning), and the trailing partial window (< 3 events) emits like
    Flink's does on end-of-input.  Streaming dual:
    streaming/stateful.py count_window (applyInPandasWithState, O(1) state
    per key: a counter + open-window accumulator)."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    numbered = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
    )
    return (
        numbered.select(
            "user_id",
            F.floor((F.col("rn") - 1) / 3).cast("bigint").alias("win_id"),
            "event_id",
            "value",
        )
        .groupBy("user_id", "win_id")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "win_id")
    )
