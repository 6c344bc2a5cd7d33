"""Time-series operators over the event stream: exact-moment outlier
detection and grid resampling with forward fill.

Both are "advanced analytical queries" in the reference's complex class
(`/root/reference/src/templates/estimation.html:231-245`), re-expressed with
deterministic cross-engine arithmetic:

* moments (mean/variance) accumulate through DECIMAL sums — exact and
  order-independent — then finish in double, where every op (div, mul,
  sqrt) is IEEE-correctly-rounded and therefore bit-identical in Spark and
  DuckDB;
* the resample grid comes from ``sequence()``/``generate_series`` literals,
  so the plan is a bounded explode, not a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plans._helpers import (
    DAILY_REVENUE_CTES,
    TIME_WEIGHTED_AVG_SQL,
    daily_revenue_week,
    dec,
    t,
)
from ..plans.registry import query


@query(
    "q_value_outliers",
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
                   CAST(sum(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
            FROM events
            GROUP BY event_type
        ),
        m AS (
            SELECT event_type, s / n AS mean,
                   sqrt((sq - s * s / n) / n) AS sigma
            FROM stats
        )
        SELECT e.event_id, e.event_type, e.value,
               (e.value - m.mean) / m.sigma AS z
        FROM events e JOIN m USING (event_type)
        WHERE abs(e.value - m.mean) > 2.5 * m.sigma
        ORDER BY e.event_id
    """,
    tags=("llm", "timeseries", "stats"),
)
def q_value_outliers(spark, sf_dir):
    """Events whose value sits more than 2.5 population-sigmas from their
    event-type mean.  Moments are computed once per type (decimal sums →
    exact regardless of partitioning), broadcast back onto the stream, and
    the filter is a scan-local predicate — one aggregate shuffle total."""
    e = t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value")).cast("double").alias("s"),
        F.sum(dec("value") * dec("value")).cast("double").alias("sq"),
    )
    m = stats.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt((F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")).alias("sigma"),
    )
    return (
        e.join(F.broadcast(m), "event_type")
        .filter(F.abs(F.col("value") - F.col("mean")) > 2.5 * F.col("sigma"))
        .select(
            "event_id",
            "event_type",
            "value",
            ((F.col("value") - F.col("mean")) / F.col("sigma")).alias("z"),
        )
        .orderBy("event_id")
    )


_GRID_START = "2024-01-01 00:00:00"
_GRID_END = "2024-01-30 23:00:00"


@query(
    "q_resample_ffill",
    oracle=f"""
        WITH grid AS (
            SELECT u.user_id, g.h
            FROM range(0, 5) u(user_id)
            CROSS JOIN (
                SELECT unnest(generate_series(
                    TIMESTAMP '{_GRID_START}', TIMESTAMP '{_GRID_END}',
                    INTERVAL 1 HOUR)) AS h
            ) g
        ),
        obs AS (
            SELECT user_id, h, value FROM (
                SELECT user_id, date_trunc('hour', ts) AS h, value,
                       row_number() OVER (
                           PARTITION BY user_id, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events WHERE user_id < 5
            ) WHERE rn = 1
        )
        SELECT grid.user_id AS user_id,
               CAST(epoch(grid.h) AS BIGINT) AS hour_s,
               last_value(obs.value IGNORE NULLS) OVER (
                   PARTITION BY grid.user_id ORDER BY grid.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM grid LEFT JOIN obs
          ON obs.user_id = grid.user_id AND obs.h = grid.h
        ORDER BY grid.user_id, hour_s
    """,
    tags=("llm", "timeseries", "resample"),
)
def q_resample_ffill(spark, sf_dir):
    """Hourly resampling with forward fill: a fixed user×hour grid
    (sequence + explode — no driver loop), each cell taking the hour's
    latest observation, gaps carrying the previous value forward via
    last(ignorenulls) over an unbounded-preceding frame.  Hours before a
    user's first event stay NULL (and are verified as NULL).

    Scale shape: the grid explode is |users|×|hours| rows partitioned by
    user; the observation side pre-reduces to one row per user-hour before
    the join; the fill window never re-sorts (grid is generated ordered)."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    obs = (
        e.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "value",
            F.row_number()
            .over(
                W.partitionBy("user_id", F.date_trunc("hour", F.col("ts")))
                .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    grid = (
        spark.range(5)
        .select(F.col("id").alias("user_id"))
        .crossJoin(
            spark.sql(
                f"SELECT explode(sequence(TIMESTAMP '{_GRID_START}', "
                f"TIMESTAMP '{_GRID_END}', INTERVAL 1 HOUR)) AS h"
            )
        )
    )
    filled = F.last(F.col("value"), ignorenulls=True).over(
        W.partitionBy(grid.user_id).orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_timestamp("h").alias("hour_s"),
            filled.alias("filled_value"),
        )
        .orderBy("user_id", "hour_s")
    )


@query(
    "q_mad_outliers",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events),
        r AS (
            SELECT event_type, event_id, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v),
        med AS (
            SELECT event_type, n, cents AS med_cents
            FROM r WHERE rn = (n + 1) // 2),
        d AS (
            SELECT v.event_type, v.event_id,
                   abs(v.cents - med.med_cents) AS dev,
                   med.med_cents, med.n
            FROM v JOIN med USING (event_type)),
        r2 AS (
            SELECT event_type, dev,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY dev, event_id) AS rn2,
                   n
            FROM d),
        mad AS (
            SELECT event_type, dev AS mad_cents
            FROM r2 WHERE rn2 = (n + 1) // 2)
        SELECT d.event_type,
               CAST(max(d.n) AS BIGINT) AS n,
               CAST(max(d.med_cents) AS BIGINT) AS med_cents,
               CAST(max(mad.mad_cents) AS BIGINT) AS mad_cents,
               CAST(sum(CASE WHEN d.dev > 3 * mad.mad_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM d JOIN mad USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    tags=("llm", "timeseries", "stats", "robust"),
)
def q_mad_outliers(spark, sf_dir):
    """Robust outlier summary per event type: exact lower median, exact
    median-absolute-deviation, and the count of events whose deviation
    exceeds 3x MAD — the heavy-tail-safe complement of q_value_outliers'
    mean/sigma z-score (one extreme value shifts a mean but not a median).
    All arithmetic is integer cents so both engines agree bit-for-bit;
    medians are derived relationally (rank (n+1)//2 — the lower middle,
    never the two-middle average that would reintroduce doubles).

    Scale shape: the raw stream reduces FIRST to a (type, cents, count)
    frequency table — one partial-combined aggregate, the only pass over
    the full data — and every median is then read off the frequency
    table's cumulative counts (min value whose running count reaches the
    target rank).  Event rows never enter a sort window; only distinct
    cents values do (bounded by the value domain, not the row count), so
    the per-type sort that kills naive exact-median plans at 100 TB never
    materializes.  The oracle re-derives the same ranks row-wise — cheap
    for DuckDB at gate scale, and an independent formulation.  For loose
    tolerances the mergeable KLL sketch (q_kll_rollup) is the documented
    approximate path; this operator is the exact contract the sketch is
    certified against."""
    e = t(spark, sf_dir, "events")
    freq = (
        e.select(
            "event_type", (dec("value") * 100).cast("bigint").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    wp = W.partitionBy("event_type")

    def rank_value(tbl, val_col, out_name):
        """Smallest val_col whose cumulative count reaches rank (n+1)//2."""
        cum = tbl.select(
            "event_type",
            val_col,
            F.sum("c").over(wp.orderBy(val_col)).alias("cum"),
            F.sum("c").over(wp).alias("n"),
        )
        return (
            cum.filter(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
            .groupBy("event_type")
            .agg(
                F.min(val_col).alias(out_name),
                F.max("n").alias(f"_n_{out_name}"),
            )
        )

    med = rank_value(freq, "cents", "med_cents")
    devf = (
        freq.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
            "c",
        )
        .groupBy("event_type", "dev")
        .agg(F.sum("c").alias("c"))
    )
    mad = rank_value(devf, "dev", "mad_cents")
    return (
        devf.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("_n_med_cents").alias("n"),
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_cents"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_X0 = 1704067200  # 2024-01-01 UTC epoch-seconds; shifts x near zero (OLS is
# shift-invariant, and the offset keeps every decimal moment far from 1e38)


@query(
    "q_linreg_by_group",
    oracle=f"""
        WITH v AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 1000000 - {_X0} AS BIGINT) AS x,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
            FROM events),
        m AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x AS DECIMAL(38,0))) AS sx,
                   sum(CAST(y AS DECIMAL(38,0))) AS sy,
                   sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
                   sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
            FROM v GROUP BY event_type)
        SELECT event_type, n,
               CAST(floor(
                   CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                   / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                   * 1000000000) AS BIGINT) AS slope_q9,
               CAST(floor(
                   (CAST(sy AS DOUBLE)
                    - (CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                       / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
                      * CAST(sx AS DOUBLE)) / n * 1000000) AS BIGINT)
                   AS intercept_q6
        FROM m
        ORDER BY event_type
    """,
    tags=("llm", "timeseries", "regression"),
)
def q_linreg_by_group(spark, sf_dir):
    """Per-event-type ordinary-least-squares trend of value over time —
    closed-form simple regression from raw moments.  The five moments
    (n, Σx, Σy, Σx², Σxy) accumulate as DECIMAL(38,0) sums of exact
    integer inputs (x = epoch-seconds offset to 2024-01-01, y = cents), so
    they are order-independent; slope and intercept then come from a fixed
    sequence of IEEE double ops on those exact values.  Outputs are
    floor-quantized (slope to 1e-9 cents/s, intercept to 1e-6 cents,
    SCALE.md §7c): the sf0.1 hardening sweep showed the engines' 128-bit
    decimal→double casts can disagree by one ulp, and quantization absorbs
    exactly that class of divergence.  One aggregate shuffle of five
    partials per group; the raw stream never moves."""
    e = t(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    v = e.select(
        "event_type",
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000") - _X0
        ).cast("bigint").alias("x"),
        (dec("value") * 100).cast("bigint").alias("y"),
    )
    m = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38)).alias("sxy"),
    )
    n38 = F.col("n").cast(d38)
    num = (n38 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n38 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    return m.select(
        "event_type",
        "n",
        F.floor(slope * 1_000_000_000).cast("bigint").alias("slope_q9"),
        F.floor(intercept * 1_000_000).cast("bigint").alias("intercept_q6"),
    ).orderBy("event_type")


@query(
    "q_winsorized_stats",
    oracle="""
        WITH f AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
        cum AS (
            SELECT event_type, cents, c,
                   sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cumc,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM f),
        lo AS (
            SELECT event_type, min(cents) AS p05
            FROM cum WHERE cumc >= (5 * n + 99) // 100 GROUP BY event_type),
        hi AS (
            SELECT event_type, min(cents) AS p95
            FROM cum WHERE cumc >= (95 * n + 99) // 100 GROUP BY event_type),
        w AS (
            SELECT f.event_type, f.c,
                   CASE WHEN f.cents < lo.p05 THEN lo.p05
                        WHEN f.cents > hi.p95 THEN hi.p95
                        ELSE f.cents END AS wc,
                   lo.p05, hi.p95
            FROM f JOIN lo USING (event_type) JOIN hi USING (event_type))
        SELECT event_type,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(max(p05) AS BIGINT) AS p05_cents,
               CAST(max(p95) AS BIGINT) AS p95_cents,
               CAST(sum(wc * c) AS BIGINT) AS winsorized_sum_cents
        FROM w
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("llm", "timeseries", "stats", "robust"),
)
def q_winsorized_stats(spark, sf_dir):
    """Winsorized per-type statistics: exact P5/P95 rank values (ceil-rank
    over cumulative counts) and the sum after clamping every observation
    into [P5, P95] — the robust-mean preparation that caps heavy-tail
    influence without dropping rows (complements q_mad_outliers, which
    *flags*; winsorization *repairs*).  Same frequency-table discipline:
    one pass reduces the stream to (type, cents, count); percentiles read
    off cumulative counts over distinct values; the clamp and weighted sum
    happen ON THE FREQUENCY TABLE (wc * c), so raw rows are touched exactly
    once and nothing float enters the pipeline."""
    e = t(spark, sf_dir, "events")
    f = (
        e.select(
            "event_type", (dec("value") * 100).cast("bigint").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    wp = W.partitionBy("event_type")
    cum = f.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(wp.orderBy("cents")).alias("cumc"),
        F.sum("c").over(wp).alias("n"),
    )

    def rank_cut(pct_num: int, out: str):
        # ceil-rank: smallest value whose cumulative count reaches
        # ceil(pct * n / 100)  ==  (pct*n + 99) // 100 in integers
        target = F.floor((pct_num * F.col("n") + 99) / 100)
        return (
            cum.filter(F.col("cumc") >= target)
            .groupBy("event_type")
            .agg(F.min("cents").alias(out))
        )

    lo = rank_cut(5, "p05")
    hi = rank_cut(95, "p95")
    w = (
        f.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_type",
            "c",
            "p05",
            "p95",
            F.when(F.col("cents") < F.col("p05"), F.col("p05"))
            .when(F.col("cents") > F.col("p95"), F.col("p95"))
            .otherwise(F.col("cents"))
            .alias("wc"),
        )
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.sum("c").alias("n"),
            F.max("p05").alias("p05_cents"),
            F.max("p95").alias("p95_cents"),
            F.sum(F.col("wc") * F.col("c")).alias("winsorized_sum_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "q_time_weighted_avg",
    oracle=TIME_WEIGHTED_AVG_SQL,
    tags=("llm", "timeseries", "time-weighted"),
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user — the step-function integral
    every TSDB exposes (a plain AVG over irregular samples over-weights
    bursts; TWA weights each observation by how long it HELD).  Each
    event's value holds until the user's next event; the integral is
    Σ(cents · Δt) with exact DECIMAL(38,0) products (cents ~1e6 × Δt_us
    ~1e12 would overflow BIGINT).  The output is micro-quantized via exact
    INTEGRAL division (Spark ``div`` on DECIMAL ≡ DuckDB HUGEINT ``//``)
    rather than a decimal→double cast: per-user numerators exceed 2^53
    even at sf0.001, where the engines' 128-bit-decimal→double casts can
    diverge by one ulp (SCALE.md §7f).  One per-user window for lead()
    and one aggregate — the window and the groupBy share the user_id
    partitioning, so the second shuffle collapses."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        (dec("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias("nxt_us"),
    )
    seg = s.filter(F.col("nxt_us").isNotNull()).select(
        "user_id", "cents", (F.col("nxt_us") - F.col("t_us")).alias("dt_us")
    )
    d38 = "decimal(38,0)"
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("dt_us").alias("span_us"),
            F.expr(
                f"CAST(sum(CAST(cents AS {d38}) * CAST(dt_us AS {d38}))"
                f" * 1000000 AS {d38}) div sum(dt_us)"
            ).alias("twa_cents_q6"),
        )
        .orderBy("user_id")
    )


# a week-long "ramp" template in cents: the query pattern for subsequence
# search (any fixed literal works; the ramp finds steadily-growing weeks)
_TS_PATTERN = [1_000_000 * (i + 1) for i in range(7)]


@query(
    "q_ts_pattern_match",
    oracle=f"""
        WITH {DAILY_REVENUE_CTES},
        pat AS (
            SELECT * FROM (VALUES
                {", ".join(f"({i + 1}, {v})" for i, v in enumerate(_TS_PATTERN))}
            ) AS p(idx, pval)),
        frames AS (
            SELECT a.day_us, a.rn,
                   b.rev_cents, b.rn - a.rn + 7 AS idx,
                   count(*) OVER (PARTITION BY a.rn) AS n_win
            FROM num a JOIN num b ON b.rn BETWEEN a.rn - 6 AND a.rn),
        dist AS (
            SELECT day_us,
                   sum(CAST(f.rev_cents - p.pval AS DECIMAL(19,0))
                       * CAST(f.rev_cents - p.pval AS DECIMAL(19,0))) AS d2
            FROM frames f JOIN pat p USING (idx)
            WHERE n_win = 7
            GROUP BY day_us)
        SELECT day_us,
               CAST(CAST(d2 AS HUGEINT) // 1000 AS BIGINT) AS dist2_q3
        FROM dist
        ORDER BY d2, day_us
        LIMIT 10
    """,
    tags=("llm", "timeseries", "similarity-search"),
)
def q_ts_pattern_match(spark, sf_dir):
    """Time-series SUBSEQUENCE similarity search: the 10 seven-day windows
    of daily revenue closest (exact squared Euclidean distance) to a fixed
    query pattern — the distributed core of UCR-style shape matching
    (public literature: "Time Series Similarity Search for Streaming Data
    in Distributed Systems", EDBT 2019).  The window's value vector
    assembles via collect_list over a row frame (one bounded sort of the
    ~2.4k daily aggregate rows — SF-invariant, same exemption class as
    q_rolling_median) and the distance is a zip_with/aggregate fold in
    DECIMAL(19,0)->DECIMAL(38,0) products: exact at any revenue magnitude,
    so the ranking value-gates cross-engine where a float distance would
    drift.  The oracle re-derives each window relationally (frame
    self-join + pattern-index join) — an independent formulation of the
    same arithmetic."""
    pat = F.array(*[F.lit(v).cast("bigint") for v in _TS_PATTERN])
    framed = daily_revenue_week(spark, sf_dir).filter(F.size("arr") == 7)
    d2 = F.expr(
        "aggregate(zip_with(arr, pat, (x, y) -> "
        "CAST(x - y AS DECIMAL(19,0)) * CAST(x - y AS DECIMAL(19,0))), "
        "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"
    )
    # output quantized to 1e3 via exact integral division: raw d2 reaches
    # 1.27e19 at sf0.1 (> BIGINT), and raw DECIMAL(38,0) output is the one
    # dtype the cross-engine comparison stack treats asymmetrically
    # (DuckDB's pandas bridge degrades wide decimals to float64) — the
    # repo-wide no-raw-decimal-outputs rule, now enforced by
    # tests/test_oracle_types.py::test_no_decimal_outputs
    return (
        framed.withColumn("pat", pat)
        .withColumn("d2", d2.cast("decimal(38,0)"))
        .orderBy("d2", "day_us")
        .limit(10)
        .select("day_us", F.expr("d2 div 1000").alias("dist2_q3"))
        .orderBy("dist2_q3", "day_us")
    )


# ``iv``: one activity interval per event, [s_us, e_us) with a length of
# one minute per value cent (Spark: ``_activity_intervals``)
_INTERVALS_CTE = """iv AS (
            SELECT user_id,
                   epoch_us(ts) AS s_us,
                   epoch_us(ts)
                   + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 600000
                       AS e_us,
                   event_id
            FROM events)"""


def _activity_intervals(spark, sf_dir):
    """(user_id, s_us, e_us, event_id): the ``_INTERVALS_CTE`` intervals."""
    return t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (dec("value") * 100).cast("bigint") * 600000
        ).alias("e_us"),
        "event_id",
    )


@query(
    "q_interval_union",
    oracle=f"""
        WITH {_INTERVALS_CTE},
        w AS (
            SELECT user_id, s_us, e_us,
                   max(e_us) OVER (PARTITION BY user_id
                                   ORDER BY s_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS prev_max_e
            FROM iv)
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(CASE
                        WHEN prev_max_e IS NULL THEN e_us - s_us
                        WHEN prev_max_e >= e_us THEN 0
                        WHEN prev_max_e > s_us THEN e_us - prev_max_e
                        ELSE e_us - s_us END) AS BIGINT) AS covered_us
        FROM w
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("llm", "timeseries", "interval-union"),
)
def q_interval_union(spark, sf_dir):
    """Total covered time per user from OVERLAPPING activity intervals
    (each event opens an interval of value-proportional length) — the
    interval-union/coverage primitive behind SLA uptime, billing-hours,
    and sensor-coverage queries, where naively summing durations
    double-counts overlaps.  The sweep is one per-user sort window:
    running max of all PRIOR interval ends, each interval contributing
    only the span past that frontier.  Pure integer micros throughout.
    One window + one aggregate, both on the user partitioning, so the
    second shuffle collapses; no self-join (the O(n²) overlap-pairs
    formulation this replaces)."""
    iv = _activity_intervals(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("s_us", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    swept = iv.select(
        "user_id",
        "s_us",
        "e_us",
        F.max("e_us").over(w).alias("prev_max_e"),
    )
    contrib = (
        F.when(F.col("prev_max_e").isNull(), F.col("e_us") - F.col("s_us"))
        .when(F.col("prev_max_e") >= F.col("e_us"), 0)
        .when(
            F.col("prev_max_e") > F.col("s_us"),
            F.col("e_us") - F.col("prev_max_e"),
        )
        .otherwise(F.col("e_us") - F.col("s_us"))
    )
    return (
        swept.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(contrib).cast("bigint").alias("covered_us"),
        )
        .orderBy("user_id")
    )


@query(
    "q_change_point",
    oracle="""
        WITH daily AS (
            SELECT epoch_us(o_orderdate) AS day_us,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s
            FROM daily),
        cusum AS (
            SELECT day_us,
                   sum(CAST(n AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))
                       - CAST(s AS DECIMAL(38,0)))
                       OVER (ORDER BY day_us) AS c_scaled
            FROM daily CROSS JOIN tot),
        scored AS (
            SELECT day_us, c_scaled, abs(c_scaled) AS a
            FROM cusum)
        SELECT day_us,
               CAST(c_scaled AS BIGINT) AS cusum_scaled
        FROM scored
        ORDER BY a DESC, day_us
        LIMIT 5
    """,
    tags=("llm", "timeseries", "change-point"),
)
def q_change_point(spark, sf_dir):
    """CUSUM change-point detection on daily revenue: the five days where
    the cumulative deviation from the global mean peaks — the classic
    level-shift locator (monitoring, drift detection).  Exactness trick:
    the textbook Σ(xᵢ − μ) is float-poisoned by μ; multiplying through by
    n gives Σ(n·xᵢ − S) — the SAME argmax in pure integer arithmetic
    (DECIMAL(38,0): n·cents ~1e15/day, summed over ~2.4k days).  The
    cumulative window runs over one row per calendar day (SF-invariant,
    q_rolling_median's exemption class)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    d38 = "decimal(38,0)"
    dev = F.col("n").cast(d38) * F.col("cents").cast(d38) - F.col("s").cast(d38)
    with_day = daily.crossJoin(F.broadcast(tot)).select(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("day_us"),
        dev.alias("dev"),
    )
    cusum = with_day.select(
        "day_us", F.sum("dev").over(W.orderBy("day_us")).alias("c_scaled")
    )
    # BIGINT output (max |c_scaled| ~3e13 at sf0.1 — 1e5x headroom); raw
    # DECIMAL outputs are banned repo-wide (see q_ts_pattern_match note)
    return (
        cusum.select(
            "day_us", F.col("c_scaled").cast("bigint").alias("cusum_scaled")
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day_us")
        .limit(5)
    )


@query(
    "q_autocorrelation",
    oracle="""
        WITH daily AS (
            SELECT epoch_us(o_orderdate) AS day_us,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate),
        lagged AS (
            SELECT day_us, cents,
                   lag(cents, 7) OVER (ORDER BY day_us) AS prev7
            FROM daily),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(cents AS DECIMAL(38,0))) AS sx,
                   sum(CAST(prev7 AS DECIMAL(38,0))) AS sy,
                   sum(CAST(cents AS DECIMAL(38,0))
                       * CAST(cents AS DECIMAL(38,0))) AS sxx,
                   sum(CAST(prev7 AS DECIMAL(38,0))
                       * CAST(prev7 AS DECIMAL(38,0))) AS syy,
                   sum(CAST(cents AS DECIMAL(38,0))
                       * CAST(prev7 AS DECIMAL(38,0))) AS sxy
            FROM lagged WHERE prev7 IS NOT NULL)
        SELECT n,
               CAST(floor(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000) AS BIGINT) AS acf7_q6
        FROM m
    """,
    tags=("llm", "timeseries", "autocorrelation"),
)
def q_autocorrelation(spark, sf_dir):
    """Lag-7 autocorrelation of daily revenue — the weekly-seasonality
    diagnostic (ACF at the suspected period ~1 means a weekly cycle; ~0
    means none, as the fixture's uniform orders produce).  All five
    moments accumulate in DECIMAL(38,0) over exact cents (paired with
    their lag-7 value from one day-ordered window), and the Pearson form
    is a fixed IEEE sequence on those exact values, floor-quantized to
    1e-6.  The lag window and the final single-row aggregate both run
    over day-cardinality input."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    lagged = daily.select(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("day_us"),
        "cents",
    ).select(
        "cents", F.lag("cents", 7).over(W.orderBy("day_us")).alias("prev7")
    ).filter(F.col("prev7").isNotNull())
    d38 = "decimal(38,0)"
    x = F.col("cents").cast(d38)
    y = F.col("prev7").cast(d38)
    m = lagged.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        nd * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return m.select(
        "n", F.floor(num / den * 1_000_000).cast("bigint").alias("acf7_q6")
    )


@query(
    "q_max_concurrency",
    oracle=f"""
        WITH {_INTERVALS_CTE},
        pts AS (
            SELECT user_id, s_us AS t_us, 1 AS delta, 0 AS kind, event_id
            FROM iv
            UNION ALL
            SELECT user_id, e_us AS t_us, -1 AS delta, 1 AS kind, event_id
            FROM iv),
        run AS (
            SELECT user_id,
                   sum(delta) OVER (PARTITION BY user_id
                                    ORDER BY t_us, kind, event_id) AS depth
            FROM pts)
        SELECT user_id, CAST(max(depth) AS BIGINT) AS max_concurrent
        FROM run
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("llm", "timeseries", "concurrency"),
)
def q_max_concurrency(spark, sf_dir):
    """Peak concurrent activity per user: the sweep-line +1/−1 running sum
    over interval starts and ends — the concurrency profile behind
    connection-pool sizing, session overlap, and the estimator's own
    parallel-consumer question.  End markers sort AFTER coincident starts
    (kind tie-break), so back-to-back intervals count as overlapping at
    the touch point — stated, and identical in both engines.  The dual of
    q_interval_union (which measures covered TIME; this measures covered
    DEPTH): same single per-user sort window, integer arithmetic only."""
    iv = _activity_intervals(spark, sf_dir)
    pts = iv.select(
        "user_id",
        F.col("s_us").alias("t_us"),
        F.lit(1).alias("delta"),
        F.lit(0).alias("kind"),
        "event_id",
    ).unionAll(
        iv.select(
            "user_id",
            F.col("e_us").alias("t_us"),
            F.lit(-1).alias("delta"),
            F.lit(1).alias("kind"),
            "event_id",
        )
    )
    w = W.partitionBy("user_id").orderBy("t_us", "kind", "event_id")
    run = pts.select("user_id", F.sum("delta").over(w).alias("depth"))
    return (
        run.groupBy("user_id")
        .agg(F.max("depth").cast("bigint").alias("max_concurrent"))
        .orderBy("user_id")
    )


@query(
    "q_price_elasticity",
    oracle="""
        WITH v AS (
            SELECT p.p_brand,
                   CAST(floor(ln(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                      * 100 AS BIGINT)) * 1000000000) AS BIGINT)
                       AS x_q,
                   CAST(floor(ln(CAST(l.l_quantity AS BIGINT)) * 1000000000)
                        AS BIGINT) AS y_q
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
        m AS (
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x_q AS DECIMAL(38,0))) AS sx,
                   sum(CAST(y_q AS DECIMAL(38,0))) AS sy,
                   sum(CAST(x_q AS DECIMAL(38,0)) * CAST(x_q AS DECIMAL(38,0)))
                       AS sxx,
                   sum(CAST(x_q AS DECIMAL(38,0)) * CAST(y_q AS DECIMAL(38,0)))
                       AS sxy
            FROM v GROUP BY p_brand)
        SELECT p_brand, n,
               CAST(floor(
                   CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                   / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                   * 1000000) AS BIGINT) AS elasticity_q6
        FROM m
        ORDER BY p_brand
    """,
    tags=("analytic", "regression", "economics"),
)
def q_price_elasticity(spark, sf_dir):
    """Log-log price elasticity of demand per brand: the OLS slope of
    ln(quantity) on ln(price) — the econometric workload pricing teams
    run (slope ≈ %Δqty per %Δprice).  The log transform happens PER ROW
    and is floor-quantized to 1e-9 BEFORE the moments, so the five sums
    are exact integers (the q_doc_nll contract applied to regression
    inputs); the slope then follows q_linreg_by_group's quantized
    closed form.  One broadcast dimension join + one aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    v = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.floor(
            F.log((dec("l_extendedprice") * 100).cast("bigint")) * 1_000_000_000
        )
        .cast("bigint")
        .alias("x_q"),
        F.floor(F.log(F.col("l_quantity").cast("bigint")) * 1_000_000_000)
        .cast("bigint")
        .alias("y_q"),
    )
    d38 = "decimal(38,0)"
    x = F.col("x_q").cast(d38)
    y = F.col("y_q").cast(d38)
    m = v.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    n38 = F.col("n").cast(d38)
    num = (n38 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n38 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "p_brand",
        "n",
        F.floor(num / den * 1_000_000).cast("bigint").alias("elasticity_q6"),
    ).orderBy("p_brand")


@query(
    "q_rolling_distinct",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM ud),
        contrib AS (
            SELECT ud.user_id, ud.day + i AS win_day
            FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS i)
        ),
        uw AS (SELECT DISTINCT user_id, win_day FROM contrib)
        SELECT days.day,
               CAST(count(*) AS BIGINT) AS distinct_users_7d
        FROM uw JOIN days ON uw.win_day = days.day
        GROUP BY days.day
        ORDER BY day
    """,
    tags=("complex", "time-series", "rolling-distinct", "window-explode"),
)
def q_rolling_distinct(spark, sf_dir):
    """Exact trailing-7-day distinct active users per day — the rolling
    COUNT(DISTINCT) over a time range that window functions cannot express
    (no DISTINCT aggregates over frames in Spark OR ANSI SQL), realized by
    the window-explode trick: each distinct (user, day) contributes to the
    7 trailing windows it falls inside, so one explode by a literal 0..6
    range + one distinct + one count replaces a per-day distinct scan.

    Scale shape: linear — |distinct user-days| x 7 rows through two
    hash aggregates, versus the naive per-window self-join (|days| scans)
    or a sliding collect_set window (state = users per frame on ONE task
    per partition key).  All-integer epoch-day arithmetic; windows are
    emitted only for days present in the data (inner join with the day
    spine), keeping the output SF-bounded and spine-exact."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    ).distinct()
    days = ud.select(F.col("day").alias("spine_day")).distinct()
    uw = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("win_day"),
        )
        .distinct()
    )
    return (
        uw.join(days, F.col("win_day") == F.col("spine_day"))
        .groupBy(F.col("spine_day").alias("day"))
        .agg(F.count("*").alias("distinct_users_7d"))
        .orderBy("day")
    )


def _counts_by_type_cte(bucket: str) -> str:
    """DuckDB ``counts`` CTE of the view-vs-purchase drift oracles: per
    ``bucket`` expression, the view (``na``) and purchase (``nb``) events."""
    return f"""counts AS (
            SELECT {bucket},
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM events
            WHERE event_type IN ('view', 'purchase')
            GROUP BY 1
        )"""


@query(
    "q_ks_statistic",
    oracle=f"""
        WITH {_counts_by_type_cte("CAST(floor(value * 100) AS BIGINT) AS cent")},
        tot AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_view,
                   CAST(sum(nb) AS BIGINT) AS n_purchase
            FROM counts
        ),
        cum AS (
            SELECT cent,
                   sum(na) OVER (ORDER BY cent) AS cum_a,
                   sum(nb) OVER (ORDER BY cent) AS cum_b
            FROM counts
        ),
        gaps AS (
            SELECT cent,
                   abs(cum_a * n_purchase - cum_b * n_view) AS gap
            FROM cum CROSS JOIN tot
        ),
        m AS (SELECT CAST(max(gap) AS BIGINT) AS max_gap FROM gaps)
        SELECT max(tot.n_view) AS n_view,
               max(tot.n_purchase) AS n_purchase,
               CAST(max(m.max_gap) * 1000000
                    // (max(tot.n_view) * max(tot.n_purchase)) AS BIGINT) AS ks_e6,
               CAST(min(gaps.cent) AS BIGINT) AS ks_at_cent
        FROM gaps CROSS JOIN m CROSS JOIN tot
        WHERE gaps.gap = m.max_gap
    """,
    tags=("complex", "statistics", "ks-test", "drift", "nonparametric"),
)
def q_ks_statistic(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of 'view' and 'purchase' events — the nonparametric
    drift detector (no binning choice, unlike the per-bucket KL of
    q_distribution_drift): KS = max_x |F_view(x) - F_purchase(x)|,
    reported in exact millionths plus the cent value where the maximum
    gap occurs (min on ties).

    All-integer realization: values quantize to cents, per-cent counts
    cumulate in one ordered window, and the CDF gap cross-multiplies —
    |cum_a*NB - cum_b*NA| — so no division happens until the final exact
    integral DIV.  The global sort window runs over DISTINCT CENTS, which
    the value RANGE bounds (~56k forever, SF-invariant once saturated) —
    the q_rolling_median boundedness class, not row count.  At samples
    beyond ~3e6 per side (n_a*n_b > (2^63-1)/1e6) the scaled gap would
    leave exact-BIGINT range — ``ks_two_sample`` raises at evaluation
    time rather than letting non-ANSI arithmetic wrap; the production
    variant divides the cumulative counts into quantized fractions first
    (one more floor-quantization, same protocol)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        F.floor(F.col("value") * 100).cast("bigint").alias("cent"),
        (F.col("event_type") == "view").cast("bigint").alias("is_a"),
        (F.col("event_type") == "purchase").cast("bigint").alias("is_b"),
    )
    return ks_two_sample(tagged).select(
        F.col("n_a").alias("n_view"),
        F.col("n_b").alias("n_purchase"),
        "ks_e6",
        "ks_at_cent",
    )


def ks_two_sample(tagged: DataFrame) -> DataFrame:
    """Exact two-sample KS over a tagged frame (cent BIGINT, is_a 0/1,
    is_b 0/1): one row (n_a, n_b, ks_e6, ks_at_cent).  Both samples must
    be non-empty (KS is undefined otherwise; the integral division would
    hit zero).  See ``q_ks_statistic`` for the arithmetic and boundedness
    analysis; hypothesis differential in tests/test_property_scorers."""
    counts = tagged.groupBy("cent").agg(
        F.sum("is_a").alias("na"), F.sum("is_b").alias("nb")
    )
    # Overflow guard (ADVICE r5): gap <= n_a*n_b and ks_e6 multiplies the
    # max gap by 1e6, so exact-BIGINT arithmetic holds only while
    # n_a*n_b <= (2^63-1)/1e6 (~9.2e12, ~3e6 distinct-cent mass per side
    # squared).  With ANSI off Spark would WRAP silently past that and
    # return a wrong ks_e6 — so the guard raises at evaluation time
    # instead (DECIMAL(38,0) product, immune to the overflow it checks
    # for).  Beyond the guard: the documented quantized-fraction variant.
    _KS_LIMIT = (2**63 - 1) // 1_000_000
    d38 = "decimal(38,0)"
    tot = counts.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b")).select(
        F.when(
            F.col("n_a").cast(d38) * F.col("n_b").cast(d38)
            <= F.lit(_KS_LIMIT).cast(d38),
            F.col("n_a"),
        )
        .otherwise(
            F.raise_error(
                "ks_two_sample: n_a*n_b exceeds the exact-BIGINT range "
                "(max_gap*1e6 would overflow); use the quantized-fraction "
                "variant"
            )
        )
        .alias("n_a"),
        "n_b",
    )
    w = W.orderBy("cent")
    cum = counts.select(
        "cent",
        F.sum("na").over(w).alias("cum_a"),
        F.sum("nb").over(w).alias("cum_b"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "cent",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("gap"),
    )
    m = gaps.agg(F.max("gap").alias("max_gap"))
    return (
        gaps.crossJoin(F.broadcast(m))
        .filter(F.col("gap") == F.col("max_gap"))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.expr("max(max_gap) * 1000000 DIV (max(n_a) * max(n_b))")
            .cast("bigint")
            .alias("ks_e6"),
            F.min("cent").alias("ks_at_cent"),
        )
    )


@query(
    "q_psi_drift",
    oracle=f"""
        WITH {_counts_by_type_cte("CAST(floor(value) AS BIGINT) AS bucket")},
        tot AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_view,
                   CAST(sum(nb) AS BIGINT) AS n_purchase,
                   CAST(count(*) AS BIGINT) AS b
            FROM counts
        ),
        terms AS (
            SELECT CAST(floor(
                       (CAST(na + 1 AS DOUBLE) / CAST(n_view + b AS DOUBLE)
                        - CAST(nb + 1 AS DOUBLE) / CAST(n_purchase + b AS DOUBLE))
                       * ln((CAST(na + 1 AS DOUBLE) / CAST(n_view + b AS DOUBLE))
                            / (CAST(nb + 1 AS DOUBLE) / CAST(n_purchase + b AS DOUBLE)))
                       * 1000000) AS BIGINT) AS term_e6,
                   n_view, n_purchase, b
            FROM counts CROSS JOIN tot
        )
        SELECT max(b) AS n_buckets,
               max(n_view) AS n_view,
               max(n_purchase) AS n_purchase,
               CAST(sum(term_e6) AS BIGINT) AS psi_e6
        FROM terms
    """,
    tags=("complex", "statistics", "psi", "drift"),
)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index between the value distributions of
    'view' and 'purchase' events — the binned drift monitor production
    scorecards run alongside the binning-free KS (q_ks_statistic): PSI =
    sum over bins of (p_i - q_i) * ln(p_i / q_i), with Laplace-smoothed
    bin shares so empty-on-one-side bins stay finite.

    Determinism protocol: bins are unit value buckets (floor(value) —
    bounded by the VALUE RANGE, the distinct-cents class), shares derive
    from exact BIGINT counts, each bin's double term runs one fixed IEEE
    sequence and floor-quantizes to 1e-6 BEFORE the sum — so the final
    BIGINT is order-independent and engine-exact (every PSI term is >= 0:
    (p-q) and ln(p/q) share sign, so per-term flooring is a one-sided
    1e-6 bound, not a cancellation hazard).  One grouped aggregate, one
    broadcast of the 1-row totals, one final fold — no windows at all."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    counts = ev.groupBy(
        F.floor(F.col("value")).cast("bigint").alias("bucket")
    ).agg(
        F.sum((F.col("event_type") == "view").cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").alias("n_view"),
        F.sum("nb").alias("n_purchase"),
        F.count("*").alias("b"),
    )
    pa = (F.col("na") + 1).cast("double") / (F.col("n_view") + F.col("b")).cast("double")
    pb = (F.col("nb") + 1).cast("double") / (F.col("n_purchase") + F.col("b")).cast("double")
    term = F.floor((pa - pb) * F.log(pa / pb) * 1_000_000).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(term.alias("term_e6"), "n_view", "n_purchase", "b")
        .agg(
            F.max("b").alias("n_buckets"),
            F.max("n_view").alias("n_view"),
            F.max("n_purchase").alias("n_purchase"),
            F.sum("term_e6").cast("bigint").alias("psi_e6"),
        )
    )


@query(
    "q_wasserstein_drift",
    oracle=f"""
        WITH {_counts_by_type_cte("CAST(floor(value) AS BIGINT) AS bucket")},
        tot AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_view,
                   CAST(sum(nb) AS BIGINT) AS n_purchase,
                   CAST(count(*) AS BIGINT) AS n_buckets
            FROM counts
        ),
        cum AS (
            SELECT bucket,
                   lead(bucket) OVER (ORDER BY bucket) AS nxt,
                   sum(na) OVER (ORDER BY bucket) AS cum_a,
                   sum(nb) OVER (ORDER BY bucket) AS cum_b
            FROM counts
        ),
        terms AS (
            SELECT abs(CAST(cum_a AS HUGEINT) * t.n_purchase
                       - CAST(cum_b AS HUGEINT) * t.n_view)
                       * (nxt - bucket) AS term
            FROM cum CROSS JOIN tot t
            WHERE nxt IS NOT NULL
        )
        SELECT t.n_view, t.n_purchase, t.n_buckets,
               CAST(sum(term) * 1000000
                    // (CAST(t.n_view AS HUGEINT) * t.n_purchase)
                    AS BIGINT) AS w1_e6
        FROM terms CROSS JOIN tot t
        GROUP BY t.n_view, t.n_purchase, t.n_buckets
    """,
    tags=("complex", "statistics", "wasserstein", "drift", "transport"),
)
def q_wasserstein_drift(spark, sf_dir):
    """Wasserstein-1 (earth-mover) distance between the value
    distributions of 'view' and 'purchase' events — the TRANSPORT metric
    completing the drift-monitor family: PSI (binned, q_psi_drift) and KL
    (q_distribution_drift) blow up on support mismatch and KS
    (q_ks_statistic) only sees the single worst CDF gap, while W1 weighs
    HOW FAR mass must move.  In one dimension optimal transport is closed
    form — W1 = ∫|CDF_a − CDF_b| dx — so no Sinkhorn iteration is needed:
    the integral is a sum of |cum_a·n_b − cum_b·n_a|·Δx terms over the
    distinct unit-value buckets, exact integers end to end, with ONE
    integral division at the end (Spark DECIMAL ``div`` ≡ DuckDB HUGEINT
    ``//``) quantized to 1e-6 value units.

    Scale: one hash aggregate over unit buckets (bounded by the VALUE
    RANGE, the q_ks_statistic class — never raw rows), one cumulative
    window over those distinct buckets, one scalar division."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    counts = ev.groupBy(
        F.floor("value").cast("bigint").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").cast("bigint").alias("n_view"),
        F.sum("nb").cast("bigint").alias("n_purchase"),
        F.count("*").cast("bigint").alias("n_buckets"),
    )
    w = W.orderBy("bucket")
    cum = counts.select(
        "bucket",
        F.lead("bucket").over(w).alias("nxt"),
        F.sum("na").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum_a"),
        F.sum("nb").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum_b"),
    )
    terms = (
        cum.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(tot))
        .select(
            "n_view",
            "n_purchase",
            "n_buckets",
            # per-term widening: cum_a·n_purchase ~ (1e12)² = 1e24 at
            # 100 TB event counts — DECIMAL(38,0) per term (HUGEINT in the
            # oracle), never BIGINT; intermediate bound Σterm·1e6 ≤
            # n_a·n_b·range·1e6 ~ 1e36 < 10^38.  The divisor n_view·
            # n_purchase alone exceeds BIGINT too — widened on both sides.
            (
                F.abs(
                    F.col("cum_a").cast("decimal(38,0)") * F.col("n_purchase")
                    - F.col("cum_b").cast("decimal(38,0)") * F.col("n_view")
                )
                * (F.col("nxt") - F.col("bucket"))
            ).alias("term"),
        )
    )
    return terms.groupBy("n_view", "n_purchase", "n_buckets").agg(
        F.expr(
            "CAST(CAST(sum(term) * 1000000 AS DECIMAL(38,0))"
            " div (CAST(n_view AS DECIMAL(38,0)) * n_purchase) AS BIGINT)"
        ).alias("w1_e6")
    )
