"""Stream-stream joins — the reference's "Joins between multiple streams"
medium-complexity class (considerations.html:30-32), which Flink prices at
11 000 rec/s/core.

Structured Streaming requires two things for a stream-stream inner join to
be runnable with bounded state: a watermark on both sides and a time-range
constraint in the join condition.  Together they let the engine discard
view-side state older than ``p_ts - within - watermark`` — state stays
proportional to traffic inside the interval, never to the full stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _view_purchase_join(
    events: DataFrame, within: str, watermark: str, how: str
) -> DataFrame:
    """Purchases joined (``how``) to the same user's views from the
    preceding ``within`` interval (inclusive of simultaneous).  Streaming
    inputs get a watermark on both sides; a batch DataFrame runs the same
    plan without one, so the batch run is the streaming tests' oracle."""
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    if events.isStreaming:
        v = v.withWatermark("v_ts", watermark)
        p = p.withWatermark("p_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(v, cond, how).select(
        # p_user is null only on a full join's view-only rows
        F.coalesce("p_user", "v_user").alias("user_id"),
        "purchase_id",
        "view_id",
        F.col("p_ts").cast("long").alias("purchase_s"),
        F.col("v_ts").cast("long").alias("view_s"),
    )


def view_purchase_interval_join(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Inner interval join: every purchase paired with the same user's views
    from the preceding ``within`` interval."""
    return _view_purchase_join(events, within, watermark, "inner")


def view_purchase_left_join(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase, with its
    preceding same-user views inside ``within`` — or a null view row when
    none exists (the outer side Flink's "full left join" complex class
    exercises, test_basic_estimation.py:317).  Outer stream-stream joins
    need the watermark + time bound so the engine knows when a purchase can
    never match again and the null-padded row may be emitted; state stays
    bounded exactly as in the inner variant."""
    return _view_purchase_join(events, within, watermark, "left_outer")


def view_purchase_full_join(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """FULL OUTER stream-stream interval join: every (purchase, preceding
    same-user view) pair inside ``within``, plus null-padded rows for
    purchases with no view AND for views with no following purchase —
    Flink's "full left join between two streams" complex class
    (`/root/reference/tests/ut/test_basic_estimation.py:317`) taken to its
    symmetric completion.  Watermarks on both sides plus the time-range
    predicate tell the engine when EITHER side's row can never match again,
    at which point its null-padded result is emittable and its state
    droppable."""
    return _view_purchase_join(events, within, watermark, "full_outer")


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with customer dimension
    attributes.  The static side is broadcast — each micro-batch probes an
    executor-local hash table, so the join adds zero shuffles and no state
    (stream-static joins need no watermark: the static side never expires).

    At scale the dimension is re-broadcast per query start, not per batch;
    a slowly-changing dimension takes the SCD2 path (operators/scd.py) and
    joins on the event-time validity interval instead.
    """
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return events.join(dim, "user_id", "left").select(
        "event_id",
        "user_id",
        "event_type",
        "customer_name",
        "segment",
        F.col("ts").cast("long").alias("ts_s"),
    )


def window_join(
    events: DataFrame,
    size: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream WINDOW join (Flink window-TVF join): views and
    purchases of the same user inside the same tumble window.

    Structured Streaming admits this with bounded state because the equi
    condition includes the time-window column itself — window equality gives
    the engine the same state-expiry guarantee as an explicit time-range
    predicate: once the watermark passes a window's end, both sides' state
    for that window is droppable.  The batch shadow is
    plans.window_tvf.q_window_join (same output schema).
    """
    streaming = events.isStreaming
    src = events.withWatermark("ts", watermark) if streaming else events
    v = src.filter(F.col("event_type") == "view").select(
        F.window("ts", size).alias("w"),
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
    )
    p = src.filter(F.col("event_type") == "purchase").select(
        F.window("ts", size).alias("w"),
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(p, ["w", "user_id"]).select(
        F.col("w").start.cast("long").alias("win_start"),
        "user_id",
        "view_id",
        "purchase_id",
    )


def enrich_with_scd2(events: DataFrame, scd2_dim: DataFrame) -> DataFrame:
    """Stream-static TEMPORAL join — Flink's ``FOR SYSTEM_TIME AS OF`` on a
    versioned (SCD2) dimension, in streaming form: each event joins the
    dimension version whose validity interval [valid_from_us, valid_to_us)
    contains the EVENT's timestamp, not the latest version at processing
    time.  The batch dual is operators/scd.py's q_temporal_join; running
    this same function on a batch DataFrame is the streaming test's shadow.

    The versioned dim is broadcast (stream-static joins keep no state and
    need no watermark); the range predicate rides the hash join on the key
    as a residual condition, so each micro-batch probes an executor-local
    table — zero shuffles.  Left join keeps events that predate their
    key's first version (dim_value null), mirroring the batch temporal
    join's semantics.  At 100 TB the dimension outgrows broadcast the same
    way any dim does; the fallback is the identical join shuffled on the
    key (versions of one key co-locate, so the interval probe stays local).
    """
    dim = F.broadcast(
        scd2_dim.select(
            F.col("user_id").alias("d_key"),
            F.col("value").alias("dim_value"),
            "valid_from_us",
            "valid_to_us",
        )
    )
    ev = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    cond = (
        (ev.user_id == dim.d_key)
        & (ev.ts_us >= dim.valid_from_us)
        & (dim.valid_to_us.isNull() | (ev.ts_us < dim.valid_to_us))
    )
    return ev.join(dim, cond, "left").select(
        "event_id", "user_id", "event_type", "ts_us", "dim_value"
    )
