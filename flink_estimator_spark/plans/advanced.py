"""Advanced/custom operators Spark has no single built-in for: as-of join,
range (band) join, exact percentiles, approximate sketches, and the UDF
surface (Pandas UDF + Python UDTF).

As-of join strategy (the scalable pattern, cf. the pyspark guide's
"as-of/range join" note): union both sides with a tag, one window pass
carries the last left-side value forward — a single shuffle on the key, no
point-in-time self-join blowup.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._helpers import (
    RUNNING_ANOMALY_SQL,
    dec,
    kll_exact_cols,
    kll_merged,
    kll_rank_ok,
    local_df,
    spread,
    t,
)
from .registry import query


@query(
    "q_asof_join",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        carried AS (
            SELECT user_id, ts, event_id, side,
                   max(CASE WHEN side = 0 THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS last_view_us
            FROM tagged
        )
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us,
               last_view_us
        FROM carried
        WHERE side = 1
        ORDER BY user_id, purchase_us, purchase_id
    """,
    tags=("complex", "asof-join"),
)
def q_asof_join(spark, sf_dir):
    """AS-OF join: each purchase picks the user's most recent prior (or
    simultaneous) view — union + carry-forward window, one shuffle total."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "last_view_us",
        F.max(F.when(F.col("side") == 0, F.unix_micros("ts"))).over(w),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.unix_micros("ts").alias("purchase_us"),
            "last_view_us",
        )
        .orderBy("user_id", "purchase_us", "purchase_id")
    )


@query(
    "q_range_join_bands",
    oracle="""
        WITH bands(band, lo, hi) AS (
            VALUES ('micro', 0.0, 5.0), ('small', 5.0, 20.0),
                   ('mid', 20.0, 50.0), ('large', 50.0, 1e18)
        )
        SELECT b.band, count(*) AS n,
               CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        GROUP BY b.band
        ORDER BY b.band
    """,
    tags=("complex", "range-join"),
)
def q_range_join_bands(spark, sf_dir):
    """Range (band) join against a tiny literal dimension — broadcast
    nested-loop on an interval predicate (the band table stays tiny at any
    scale; the fact side is spread so the per-pair predicate evaluation
    parallelizes even from a single-split scan)."""
    ev = spread(t(spark, sf_dir, "events"), "event_id")
    bands = local_df(
        spark,
        [("micro", 0.0, 5.0), ("small", 5.0, 20.0), ("mid", 20.0, 50.0), ("large", 50.0, 1e18)],
        T.StructType(
            [
                T.StructField("band", T.StringType()),
                T.StructField("lo", T.DoubleType()),
                T.StructField("hi", T.DoubleType()),
            ]
        ),
    )
    return (
        ev.join(F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("band")
    )


@query(
    "q_percentiles",
    oracle="""
        SELECT event_type,
               CAST(quantile_cont(value, 0.5) AS DOUBLE) AS p50,
               CAST(quantile_cont(value, 0.95) AS DOUBLE) AS p95,
               CAST(min(value) AS DOUBLE) AS vmin,
               CAST(max(value) AS DOUBLE) AS vmax
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("complex", "percentile"),
)
def q_percentiles(spark, sf_dir):
    """Exact continuous percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: sort + linear interpolation)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
            F.min("value").cast("double").alias("vmin"),
            F.max("value").cast("double").alias("vmax"),
        )
        .orderBy("event_type")
    )


@query(
    "q_approx_sketches",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
               TRUE AS orders_ok,
               TRUE AS parts_ok,
               TRUE AS median_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("complex", "approx", "sketch"),
)
def q_approx_sketches(spark, sf_dir):
    """Approximate sketches (HyperLogLog distinct, KLL-style quantiles) —
    the 100 TB substitutes for exact distincts/percentiles — emitted as an
    error-bound CERTIFICATE rather than raw sketch values (which are
    engine-specific and not oracle-able): each group asserts the HLL
    estimates land within 10% of the exact distinct counts and the approx
    median within 2% of the exact median.  The oracle states the contract
    with literal TRUEs; if a sketch ever drifts past its bound, the Spark
    side emits FALSE and the gate row goes red — a green row certifies the
    accuracy, not just that the query ran."""
    li = t(spark, sf_dir, "lineitem")

    def _within(approx, exact, rel):
        return (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= rel * exact.cast("double")
        )

    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "approx_median"
        ),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        _within(F.col("approx_orders"), F.col("exact_orders"), 0.10).alias("orders_ok"),
        _within(F.col("approx_parts"), F.col("exact_parts"), 0.10).alias("parts_ok"),
        _within(F.col("approx_median"), F.col("exact_median"), 0.02).alias("median_ok"),
    ).orderBy("l_returnflag")


@query(
    "q_pandas_udf_score",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_quantity * 2.0 + l_extendedprice * 0.001
                   + CASE WHEN l_discount > 0.05 THEN 10.0 ELSE 0.0 END AS score
        FROM lineitem
        WHERE l_orderkey <= 500
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("complex", "udf", "pandas-udf"),
)
def q_pandas_udf_score(spark, sf_dir):
    """Scalar Pandas UDF (Arrow-vectorized) — the sanctioned custom-logic
    path; same IEEE double ops as the SQL oracle so values hash-match."""

    @F.pandas_udf(T.DoubleType())
    def score(qty: pd.Series, price: pd.Series, disc: pd.Series) -> pd.Series:
        return qty * 2.0 + price * 0.001 + (disc > 0.05) * 10.0

    # sorted before the projection: a scalar UDF keeps its input's rows
    # and order, and the sort's sampling job then reads no Python output
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 500)
        .orderBy("l_orderkey", "l_linenumber")
        .select(
            "l_orderkey",
            "l_linenumber",
            score("l_quantity", "l_extendedprice", "l_discount").alias("score"),
        )
    )


@query(
    "q_grouped_pandas_minmax",
    oracle="""
        SELECT user_id, event_id,
               CAST((value - min_v) / nullif(max_v - min_v, 0) AS DOUBLE) AS scaled
        FROM (
            SELECT user_id, event_id, value,
                   min(value) OVER (PARTITION BY user_id) AS min_v,
                   max(value) OVER (PARTITION BY user_id) AS max_v
            FROM events
            WHERE user_id < 10
        )
        ORDER BY user_id, event_id
    """,
    tags=("complex", "udf", "applyInPandas"),
)
def q_grouped_pandas_minmax(spark, sf_dir):
    """Grouped-map applyInPandas (UDAF-ish): per-user min-max scaling.
    min/max are exact, so the IEEE subtract/divide hash-matches the oracle
    (a z-score variant differs in the last ULP because pandas' pairwise sum
    and DuckDB's streaming variance accumulate in different orders)."""

    def minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        lo, hi = float(v.min()), float(v.max())
        scaled = (v - lo) / (hi - lo) if hi != lo else pd.Series([None] * len(v), dtype="float64")
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "scaled": scaled}
        )

    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .applyInPandas(minmax, "user_id long, event_id long, scaled double")
        .orderBy("user_id", "event_id")
    )


@query(
    "q_udtf_tokens",
    oracle=r"""
        WITH toks AS (
            SELECT words[i] AS tok
            FROM (
                SELECT string_split_regex(trim(lower(text)), '\s+') AS words
                FROM documents WHERE doc_id < 100
            ), LATERAL (SELECT unnest(generate_series(1, len(words))) AS i)
        )
        SELECT tok, count(*) AS n
        FROM toks WHERE tok <> ''
        GROUP BY tok
        ORDER BY n DESC, tok
        LIMIT 25
    """,
    tags=("complex", "udf", "udtf"),
)
def q_udtf_tokens(spark, sf_dir):
    """Python UDTF (table function) in a LATERAL join: tokenizer emitting one
    row per token, aggregated into the top-25 token counts."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string")
    class Tokenize:
        def eval(self, text: str):
            for tok in (text or "").lower().strip().split():
                yield (tok,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", "text"
    ).createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        """
        SELECT t.tok, count(*) AS n
        FROM docs_for_udtf d, LATERAL tokenize_udtf(d.text) t
        GROUP BY t.tok
        ORDER BY n DESC, t.tok
        LIMIT 25
        """
    )


@query(
    "q_time_range_frame",
    oracle="""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               count(*) OVER w AS n_last_hour,
               CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_last_hour
        FROM events
        WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_us, event_id
    """,
    tags=("complex", "window-frame", "range"),
)
def q_time_range_frame(spark, sf_dir):
    """Time-based RANGE frame: per user, activity count and decimal-exact
    value sum over the trailing hour of each event (rangeBetween on epoch
    microseconds — the sliding-window analytic that rowsBetween can't
    express when event spacing is irregular)."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.count("*").over(w).alias("n_last_hour"),
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double").alias("sum_last_hour"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "q_interval_join",
    oracle="""
        SELECT p.user_id AS user_id, p.event_id AS purchase_id,
               v.event_id AS view_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        ORDER BY p.user_id, purchase_id, view_id
    """,
    tags=("medium", "join", "interval", "stream-stream"),
)
def q_interval_join(spark, sf_dir):
    """Interval join (batch shape of the stream-stream join in
    streaming/joins.py): each purchase paired with the same user's views in
    the preceding hour."""
    from ..streaming.joins import view_purchase_interval_join

    return view_purchase_interval_join(t(spark, sf_dir, "events")).orderBy(
        "user_id", "purchase_id", "view_id"
    )


@query(
    "q_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, metric,
               CAST(val AS DOUBLE) AS val
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
            FROM lineitem WHERE l_orderkey <= 200
        ) UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
        ORDER BY l_orderkey, l_linenumber, metric
    """,
    tags=("complex", "unpivot"),
)
def q_unpivot(spark, sf_dir):
    """Wide-to-long unpivot (the inverse of q_pivot_status): one row per
    (line, metric) — Spark's ``unpivot`` == SQL UNPIVOT/stack."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 200)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "metric",
            "val",
        )
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


@query(
    "q_pandas_grouped_agg",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS mean_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("complex", "udf", "pandas-grouped-agg"),
)
def q_pandas_grouped_agg(spark, sf_dir):
    """Grouped-aggregate Pandas UDF (the UDAF surface): a custom mean over
    Arrow batches.  Sums in Decimal so the result is bit-equal to the SQL
    oracle regardless of batch/partition order."""
    from decimal import Decimal

    @F.pandas_udf(T.DoubleType())
    def decimal_mean(v: pd.Series) -> float:
        total = Decimal(0)
        for x in v:
            total += Decimal(f"{x:.2f}")
        return float(total) / len(v)

    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(decimal_mean("l_quantity").alias("mean_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "q_multistage_windows",
    oracle="""
        WITH minute_rollup AS (
            SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS win_start,
                   user_id,
                   count(*) AS n,
                   sum(CAST(value AS DECIMAL(18,2))) AS v
            FROM events
            GROUP BY 1, 2
        )
        SELECT CAST(floor(win_start/86400)*86400 AS BIGINT) AS day_start,
               count(*) AS n_active_user_windows,
               count(DISTINCT user_id) AS n_users,
               max(n) AS peak_10min_events,
               CAST(sum(v) AS DOUBLE) AS day_value
        FROM minute_rollup
        GROUP BY 1
        ORDER BY day_start
    """,
    tags=("complex", "window-time", "multi-stage"),
)
def q_multistage_windows(spark, sf_dir):
    """Multi-level window pipeline: 10-minute per-user windows rolled up
    into daily totals (chained groupBy(window(...)) stages — the
    map-side-partial + re-aggregate shape that at scale only shuffles the
    first stage's compacted output into the second)."""
    ev = t(spark, sf_dir, "events")
    per_10min = (
        ev.groupBy(
            F.window("ts", "10 minutes").start.cast("long").alias("win_start"),
            "user_id",
        )
        .agg(F.count("*").alias("n"), F.sum(dec("value")).alias("v"))
    )
    return (
        per_10min.groupBy(
            F.floor(F.col("win_start") / 86400).cast("long").alias("_day")
        )
        .agg(
            F.count("*").alias("n_active_user_windows"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("n").alias("peak_10min_events"),
            F.sum("v").cast("double").alias("day_value"),
        )
        .select(
            (F.col("_day") * 86400).alias("day_start"),
            "n_active_user_windows",
            "n_users",
            "peak_10min_events",
            "day_value",
        )
        .orderBy("day_start")
    )


@query(
    "q_hll_rollup",
    oracle="""
        SELECT etype, n_exact, est_ok FROM (
            SELECT event_type AS etype,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS est_ok
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
            FROM events
        )
        ORDER BY etype
    """,
    tags=("complex", "approx", "sketch", "mergeable", "rollup"),
)
def q_hll_rollup(spark, sf_dir):
    """Mergeable-sketch hierarchy: per-event-type HLL sketches of distinct
    users, then an 'ALL' row whose sketch is the UNION of the per-type
    sketches — never a re-scan of the raw data.  This is the 100 TB shape
    for hierarchical distinct counts (daily sketches -> monthly rollup):
    partial sketch states are small, associative, and order-independent,
    so every level after the first costs only a sketch merge.  Emitted as
    an accuracy certificate (estimate within 5% of the exact distinct,
    which the oracle recomputes exactly): a green row certifies both the
    merge algebra and the accuracy bound."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    # the ALL level: union of the per-type sketches; exact side needs one
    # global distinct (the certificate's truth), the sketch side does NOT
    all_exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    all_row = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(all_exact))
        .select(F.lit("ALL").alias("etype"), "n_exact", "sk")
    )
    per_rows = per.select(F.col("event_type").alias("etype"), "n_exact", "sk")
    est = F.hll_sketch_estimate("sk").cast("double")
    exact_d = F.col("n_exact").cast("double")
    return (
        per_rows.unionByName(all_row)
        .select(
            "etype",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (F.abs(est - exact_d) <= 0.05 * exact_d).alias("est_ok"),
        )
        .orderBy("etype")
    )


@query(
    "q_kll_rollup",
    oracle="""
        SELECT etype, p50_exact, rank_ok FROM (
            SELECT event_type AS etype,
                   quantile_cont(value, 0.5) AS p50_exact,
                   TRUE AS rank_ok
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'ALL', quantile_cont(value, 0.5), TRUE FROM events
        )
        ORDER BY etype
    """,
    tags=("complex", "approx", "sketch", "mergeable", "quantile"),
)
def q_kll_rollup(spark, sf_dir):
    """Mergeable-quantile hierarchy (KLL sketches), the percentile dual of
    q_hll_rollup: per-event-type KLL sketches of ``value``, with the ALL
    row's sketch produced by ``kll_sketch_merge_double`` over the per-type
    sketches — no re-scan.  KLL guarantees RANK error (~1.7% at the default
    k), not value error, so the certificate asserts the estimated median
    lands between the exact 40th and 60th percentiles of the same group —
    a rank-window check that is meaningful for any value distribution.
    The oracle recomputes the exact medians (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) and states the certificate as literal TRUE."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"), *kll_exact_cols()
    )
    # the rollup level always has far fewer rows than the base level, so a
    # collect_list + fold at the top of the hierarchy is bounded
    all_row = (
        per.agg(kll_merged(F.collect_list("sk")).alias("sk"))
        .crossJoin(F.broadcast(ev.agg(*kll_exact_cols())))
        .select(F.lit("ALL").alias("etype"), "p50_exact", "_lo", "_hi", "sk")
    )
    per_rows = per.select(
        F.col("event_type").alias("etype"), "p50_exact", "_lo", "_hi", "sk"
    )
    return (
        per_rows.unionByName(all_row)
        .select("etype", "p50_exact", kll_rank_ok())
        .orderBy("etype")
    )


@query(
    "q_asof_forward",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        carried AS (
            SELECT user_id, ts, event_id, side,
                   min(CASE WHEN side = 0 THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS next_purchase_us
            FROM tagged
        )
        SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us,
               next_purchase_us
        FROM carried
        WHERE side = 1
        ORDER BY user_id, view_us, view_id
    """,
    tags=("complex", "asof-join", "forward"),
)
def q_asof_forward(spark, sf_dir):
    """FORWARD as-of join — each view picks the user's NEXT purchase (at or
    after it): the attribution-window dual of q_asof_join's backward
    carry.  Same single-shuffle union+window shape, with a forward frame
    (CURRENT ROW .. UNBOUNDED FOLLOWING) carrying the minimum future
    right-side time; sorting purchases before ties (side 0 first) makes
    the 'at or after' inclusivity explicit in both engines."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("side"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = tagged.withColumn(
        "next_purchase_us",
        F.min(F.when(F.col("side") == 0, F.unix_micros("ts"))).over(w),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.unix_micros("ts").alias("view_us"),
            "next_purchase_us",
        )
        .orderBy("user_id", "view_us", "view_id")
    )


@query(
    "q_resample_interp",
    oracle="""
        WITH bounds AS (
            SELECT user_id,
                   CAST(floor(epoch_us(min(ts)) / 3600000000) + 1 AS BIGINT) AS h_lo,
                   CAST(floor(epoch_us(max(ts)) / 3600000000) AS BIGINT) AS h_hi
            FROM events WHERE user_id < 100
            GROUP BY user_id HAVING count(*) >= 20
        ),
        grid AS (
            SELECT user_id, unnest(range(h_lo, h_hi + 1)) * 3600000000 AS grid_us
            FROM bounds
        ),
        tagged AS (
            SELECT user_id, grid_us AS t_us, NULL AS v, 1 AS is_grid,
                   grid_us AS tie
            FROM grid
            UNION ALL
            SELECT e.user_id, epoch_us(e.ts), CAST(e.value AS DOUBLE), 0,
                   epoch_us(e.ts)
            FROM events e JOIN bounds b ON e.user_id = b.user_id
        ),
        carried AS (
            SELECT user_id, t_us, is_grid,
                   max(CASE WHEN is_grid = 0 THEN t_us END)
                       OVER wb AS prev_t_us,
                   last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
                       OVER wb AS prev_v,
                   min(CASE WHEN is_grid = 0 THEN t_us END)
                       OVER wf AS next_t_us,
                   first_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
                       OVER wf AS next_v
            FROM tagged
            WINDOW wb AS (PARTITION BY user_id ORDER BY t_us, is_grid, tie
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY t_us, is_grid, tie
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, t_us AS grid_us,
               prev_v + (next_v - prev_v)
                      * (CAST(t_us - prev_t_us AS DOUBLE)
                         / CAST(next_t_us - prev_t_us AS DOUBLE)) AS v_interp
        FROM carried
        WHERE is_grid = 1 AND prev_t_us IS NOT NULL AND next_t_us IS NOT NULL
          AND next_t_us > prev_t_us
        ORDER BY user_id, grid_us
    """,
    tags=("complex", "timeseries", "interpolation"),
)
def q_resample_interp(spark, sf_dir):
    """Linear interpolation onto an hourly grid — the two-sided dual of
    q_resample_ffill: every grid instant takes
    prev + (next-prev) * (t-t0)/(t1-t0) between its neighboring samples.
    Union grid+samples, ONE shuffle, two frames over the same sort (a
    backward carry for the previous sample, a forward carry for the
    next); the interpolation itself is a single fixed-shape IEEE
    expression, identical in both engines.  Only users with >= 20 events
    keep the output bounded at fixture scale (users < 100, >= 20 events)."""
    ev = t(spark, sf_dir, "events")
    bounds = (
        ev.filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.floor(F.unix_micros(F.min("ts")) / 3_600_000_000) + 1).alias("h_lo"),
            F.floor(F.unix_micros(F.max("ts")) / 3_600_000_000).alias("h_hi"),
        )
        .filter(F.col("n") >= 20)
        .select("user_id", "h_lo", "h_hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("h_lo", "h_hi")).alias("h")
    ).select(
        "user_id", (F.col("h") * 3_600_000_000).alias("t_us")
    ).select(
        "user_id",
        "t_us",
        F.lit(None).cast("double").alias("v"),
        F.lit(1).alias("is_grid"),
        F.col("t_us").alias("tie"),
    )
    samples = ev.join(bounds.select("user_id"), "user_id").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.col("value").cast("double").alias("v"),
        F.lit(0).alias("is_grid"),
        F.unix_micros("ts").alias("tie"),
    )
    tagged = grid.unionByName(samples)
    order = [F.col("t_us"), F.col("is_grid"), F.col("tie")]
    wb = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    sample_t = F.when(F.col("is_grid") == 0, F.col("t_us"))
    sample_v = F.when(F.col("is_grid") == 0, F.col("v"))
    carried = tagged.select(
        "user_id",
        "t_us",
        "is_grid",
        F.max(sample_t).over(wb).alias("prev_t_us"),
        F.last(sample_v, ignorenulls=True).over(wb).alias("prev_v"),
        F.min(sample_t).over(wf).alias("next_t_us"),
        F.first(sample_v, ignorenulls=True).over(wf).alias("next_v"),
    )
    frac = (
        (F.col("t_us") - F.col("prev_t_us")).cast("double")
        / (F.col("next_t_us") - F.col("prev_t_us")).cast("double")
    )
    return (
        carried.filter(
            (F.col("is_grid") == 1)
            & F.col("prev_t_us").isNotNull()
            & F.col("next_t_us").isNotNull()
            & (F.col("next_t_us") > F.col("prev_t_us"))
        )
        .select(
            "user_id",
            F.col("t_us").alias("grid_us"),
            (
                F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
            ).alias("v_interp"),
        )
        .orderBy("user_id", "grid_us")
    )


@query(
    "q_running_anomaly",
    oracle=RUNNING_ANOMALY_SQL,
    tags=("complex", "anomaly", "window-analytic", "exact-aggregation"),
)
def q_running_anomaly(spark, sf_dir):
    """Streaming-style anomaly detection, batch form: each event tested
    against the mean/variance of the SAME user's strictly-prior events
    (expanding frame to 1 PRECEDING, >= 5 priors) — flagged when
    (x - mean)² > 9·var, i.e. a 3-sigma break.  The test multiplies
    through by n² so it needs no sqrt and no float variance: sums ride as
    BIGINT integer cents, and the two final products (which overflow
    BIGINT at micro-unit scale) compare in exact DECIMAL(38,0) — so the
    flags are bit-identical across engines and partitionings.  One
    shuffle on the user key serves all three frame
    aggregates.  Streaming dual: streaming/anomaly.py carries (n, s, q)
    as O(1) per-key state and applies the identical integer test."""
    ev = t(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    cents = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        v.alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    stats = cents.select(
        "user_id",
        "event_id",
        "ts_us",
        "v",
        F.count("*").over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("q"),
    ).filter(F.col("n") >= 5)
    d38 = "decimal(38,0)"
    dev = (F.col("n") * F.col("v") - F.col("s")).cast(d38)
    spread_t = (F.lit(9) * F.col("n")).cast(d38) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    ).cast(d38)
    return (
        stats.filter(dev * dev > spread_t)
        .select("user_id", "event_id", "ts_us", F.col("n").alias("n_prior"))
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "q_asof_nearest",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us,
                   CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side,
                   ts
            FROM events WHERE event_type IN ('view', 'purchase')),
        carried AS (
            SELECT user_id, event_id, t_us, side,
                   max(CASE WHEN side = 0 THEN t_us END) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS prev_view_us,
                   min(CASE WHEN side = 0 THEN t_us END) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_view_us
            FROM ev)
        SELECT user_id, event_id AS purchase_id, t_us AS purchase_us,
               CASE
                   WHEN prev_view_us IS NULL THEN next_view_us
                   WHEN next_view_us IS NULL THEN prev_view_us
                   WHEN t_us - prev_view_us <= next_view_us - t_us
                       THEN prev_view_us
                   ELSE next_view_us
               END AS nearest_view_us
        FROM carried
        WHERE side = 1
        ORDER BY user_id, purchase_us, purchase_id
    """,
    tags=("complex", "asof", "temporal"),
)
def q_asof_nearest(spark, sf_dir):
    """NEAREST-mode as-of join, completing the trio (backward q_asof_join,
    forward q_asof_forward): each purchase picks whichever view is closer
    in time, ties to the earlier one — the mode sensor-fusion and
    master-clock alignment workloads use.  Both candidate carries come
    from TWO FRAMES OVER ONE SORT (unbounded-preceding max and
    unbounded-following min on the same (user, ts) ordering), so the plan
    still shuffles once; the nearest pick is a scan-local CASE.  A
    two-sided join formulation would need two range joins and a
    distinct."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
    )
    order = W.partitionBy("user_id").orderBy("ts", "side", "event_id")
    back = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    fwd = order.rowsBetween(W.currentRow, W.unboundedFollowing)
    view_us = F.when(F.col("side") == 0, F.col("t_us"))
    carried = tagged.select(
        "user_id",
        "event_id",
        "t_us",
        "side",
        F.max(view_us).over(back).alias("prev_view_us"),
        F.min(view_us).over(fwd).alias("next_view_us"),
    )
    nearest = (
        F.when(F.col("prev_view_us").isNull(), F.col("next_view_us"))
        .when(F.col("next_view_us").isNull(), F.col("prev_view_us"))
        .when(
            F.col("t_us") - F.col("prev_view_us")
            <= F.col("next_view_us") - F.col("t_us"),
            F.col("prev_view_us"),
        )
        .otherwise(F.col("next_view_us"))
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("t_us").alias("purchase_us"),
            nearest.alias("nearest_view_us"),
        )
        .orderBy("user_id", "purchase_us", "purchase_id")
    )
