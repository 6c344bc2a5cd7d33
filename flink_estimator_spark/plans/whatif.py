"""What-if capacity grid: Plane A (the reference's sizing calculus) driven
by Plane-B measurements of the data itself.

The reference sizes one scenario per POST
(`/root/reference/src/flink_estimator/main.py:60-75`); a capacity planner's
real workflow is a *grid* — size every workload variant in one pass and
read off the cheapest viable configuration.  Here the workload profiles are
measured from the events table (per-event-type observed rate and payload
size), scaled across growth multipliers and latency tiers, and pushed
through the vectorized estimation engine — one Arrow-batched DataFrame pass
over the whole grid, the same shape a 10k-scenario sweep takes on a
cluster.

Rows-only (no DuckDB oracle): the estimation kernel is the reference
calculus (Python half-even rounding, fixpoint solver), deliberately not
re-expressible in SQL — its correctness gate is the bit-exact differential
against the live reference (`tests/test_reference_differential.py`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._helpers import local_df, t
from .registry import query

# Traffic multipliers over the observed rate.  The fixture spans ~30 days of
# low-rate synthetic events (~4e-4/s at sf0.001), so the interesting sizing
# regimes — where the calculus starts adding TMs and nodes — only open up
# several orders of magnitude above observed; the grid sweeps up to the
# millions-of-events/s regime the reference's form targets.
GROWTH = [10**4, 10**6, 10**8]
LATENCY_TIERS = [0.5, 5.0]     # seconds — the reference's sub-second vs relaxed


@query(
    "q_whatif_capacity_grid",
    oracle=None,  # Plane-A kernel (reference calculus) — differential-gated
    tags=("estimator", "whatif", "grid"),
)
def q_whatif_capacity_grid(spark, sf_dir):
    """Size a Flink cluster for every (event_type x growth x latency) cell:
    observed per-type rate and payload size feed the reference calculus;
    output is the sizing surface (CPUs, memory, nodes) per cell."""
    from ..estimator import estimate_df, scenario_schema

    ev = t(spark, sf_dir, "events")
    span = ev.agg(
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000.0)
        ).alias("span_s")
    )
    profiles = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.avg(F.length("props") + F.lit(32)).alias("avg_bytes"),
            F.countDistinct("user_id").alias("n_keys"),
        )
        .crossJoin(F.broadcast(span))
    )
    grid = (
        profiles.crossJoin(
            F.broadcast(
                local_df(
                    spark,
                    [(g, lat) for g in GROWTH for lat in LATENCY_TIERS],
                    "growth INT, latency DOUBLE",
                )
            )
        )
        .select(
            F.concat(
                F.col("event_type"), F.lit("_x"), F.col("growth"),
                F.lit("_lat"), F.col("latency").cast("string"),
            ).alias("project_name"),
            F.greatest(
                F.lit(1).cast("long"),
                (F.col("n_events") / F.col("span_s") * F.col("growth"))
                .cast("long"),
            ).alias("messages_per_second"),
            F.greatest(F.lit(1).cast("long"), F.col("avg_bytes").cast("long"))
            .alias("avg_record_size_bytes"),
            F.col("n_keys").alias("num_distinct_keys"),
            F.col("latency").alias("expected_latency_seconds"),
        )
    )
    # widen to the full scenario schema (unset knobs ride as typed nulls;
    # estimate_df applies the reference's Pydantic-style defaults).  Sorted
    # here, not after estimate_df: the sort's sampling job would run the
    # kernel a second time, and estimate_df keeps its input's row order.
    full = grid.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in grid.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in scenario_schema.fields
        ]
    ).orderBy("project_name")
    sized = estimate_df(full)
    return sized.select(
        "project_name",
        F.col("input_summary.messages_per_second").alias("msgs_per_s"),
        F.col("resource_estimates.total_cpus").alias("total_cpus"),
        F.col("resource_estimates.total_memory_mb").alias("total_memory_mb"),
        F.col("resource_estimates.total_worker_node_needed").alias("nodes"),
        F.col("cluster_recommendations.taskmanagers.count").alias("taskmanagers"),
    )
