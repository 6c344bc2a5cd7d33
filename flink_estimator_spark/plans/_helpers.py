"""Shared builder helpers for the declared query inventory.

Hash-parity conventions (see registry.py docstring): money columns are
2-decimal values stored as doubles, so aggregates go through DECIMAL(18,2)
arithmetic (exact, order-independent) and are cast back to DOUBLE at the end
— both engines then produce bit-identical numbers regardless of row order.
"""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..session import ensure_checkpoint_dir
from ..sources.tables import read_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """DataFrame of driver-held ``rows`` (tuples in field order) with
    exactly ``schema`` (a ``StructType`` or a DDL string).  The rows go to
    the JVM as one Arrow table and plan as a ``LocalTableScan``: a list
    passed to ``createDataFrame`` instead becomes a pickled ``PythonRDD``,
    and every action over it starts Python workers (SCALE.md §6)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    aschema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(aschema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, aschema)], schema=aschema
    )
    return spark.createDataFrame(table, schema)


def dec(col: str | Column, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def as_double(c: Column) -> Column:
    return c.cast("double")


# revenue := extendedprice * (1 - discount), exact decimal arithmetic
def revenue_expr() -> Column:
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))


# the matching DuckDB fragment
REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)



def daily_revenue_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day_us, arr): each order date as epoch micros and the ``rev_cents``
    (daily revenue in integer cents) of its trailing 7-row frame.  The frame
    is a global sort over one row per calendar day (~2.4k rows at any SF)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("rev_cents")
    )
    w = W.orderBy("o_orderdate").rowsBetween(-6, 0)
    return daily.select(
        # o_orderdate is TIMESTAMP_NTZ; the UTC session timezone makes the
        # cast an identity re-tag, matching the oracles' epoch_us
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("day_us"),
        F.collect_list("rev_cents").over(w).alias("arr"),
    )


# the DuckDB daily revenue: ``daily`` (day_us, rev_cents) per order date and
# ``num`` adding its date rank ``rn``; the frames over it are the oracles'
# form of ``daily_revenue_week``
DAILY_REVENUE_CTES = """daily AS (
            SELECT epoch_us(o_orderdate) AS day_us,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS rev_cents
            FROM orders GROUP BY o_orderdate),
        num AS (
            SELECT day_us, rev_cents,
                   row_number() OVER (ORDER BY day_us) AS rn
            FROM daily)"""


def largest_remainder(
    df: DataFrame, key: str, weight: str, total: str, budget: int
) -> DataFrame:
    """``df`` plus ``alloc``: ``budget`` units apportioned over its rows in
    proportion to ``weight`` out of the ``total`` column, by the
    largest-remainder method.  Each row gets floor(budget * share), then the
    leftover units go one each to the largest remainders (ties by ``key``),
    so the allocations sum to ``budget`` exactly in integer arithmetic.  The
    remainder rank is a global window, so ``df`` must be a handful of rows."""
    quota = df.select(
        "*",
        F.expr(f"({budget} * {weight}) DIV {total}").alias("base"),
        F.expr(f"({budget} * {weight}) % {total}").alias("rem"),
    )
    wall = W.orderBy(F.desc("rem"), key).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = quota.select(
        "*",
        F.row_number().over(W.orderBy(F.desc("rem"), key)).alias("rr"),
        (F.lit(budget) - F.sum("base").over(wall)).alias("leftover"),
    )
    alloc = F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(*df.columns, alloc.cast("bigint").alias("alloc"))

def cep_chain_oracle(where: str = "") -> str:
    """DuckDB oracle of the four-step CEP chain (signup -> view -> click ->
    purchase within 48 h, no error inside the span, earliest match per
    user) over the events rows ``where`` keeps — the chained min-CASE
    window SQL that gates ``q_cep_four_step`` and the streaming CEP
    runtime gates."""
    return f"""
        SELECT user_id,
               epoch_us(t0) AS t0_us,
               epoch_us(t1) AS t1_us,
               epoch_us(t2) AS t2_us,
               epoch_us(t3) AS t3_us,
               (epoch_us(t3) - epoch_us(t0)) // 1000000 AS span_s
        FROM (
            SELECT DISTINCT user_id, t0, t1, t2, t3,
                   sum(CASE WHEN event_type = 'error' AND ts > t0 AND ts < t3
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id) AS n_err
            FROM (
                SELECT user_id, event_type, ts, t0, t1, t2,
                       min(CASE WHEN event_type = 'purchase' AND ts > t2
                                THEN ts END) OVER (PARTITION BY user_id) AS t3
                FROM (
                    SELECT user_id, event_type, ts, t0, t1,
                           min(CASE WHEN event_type = 'click' AND ts > t1
                                    THEN ts END) OVER (PARTITION BY user_id) AS t2
                    FROM (
                        SELECT user_id, event_type, ts, t0,
                               min(CASE WHEN event_type = 'view' AND ts > t0
                                        THEN ts END) OVER (PARTITION BY user_id) AS t1
                        FROM (
                            SELECT user_id, event_type, ts,
                                   min(CASE WHEN event_type = 'signup'
                                            THEN ts END) OVER (PARTITION BY user_id) AS t0
                            FROM events {where}
                        )
                    )
                )
            )
        )
        WHERE t3 IS NOT NULL
          AND epoch_us(t3) - epoch_us(t0) <= CAST(172800 AS BIGINT) * 1000000
          AND n_err = 0
        ORDER BY user_id
    """

# Oracles shared by a batch query and the streaming runtime gate that must
# return the same answer: a stream's result may not depend on how it is cut
# into micro-batches, so the batch dual's oracle gates both.

# q_tumble_window, q_stream_tumble_runtime
TUMBLE_SQL = """
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
               event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY win_start, event_type
    """

# q_cep_funnel, q_stream_funnel_runtime
CEP_FUNNEL_SQL = """
        SELECT s.user_id, count(*) AS n_conversions
        FROM events s
        JOIN events p
          ON p.user_id = s.user_id
         AND p.event_type = 'purchase'
         AND p.ts > s.ts
         AND epoch(p.ts) - epoch(s.ts) <= 86400
        WHERE s.event_type = 'signup'
        GROUP BY s.user_id
        ORDER BY s.user_id
    """

# q_running_anomaly, q_stream_anomaly_runtime
RUNNING_ANOMALY_SQL = """
        WITH cents AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
            FROM events),
        stats AS (
            SELECT user_id, event_id, ts_us, v,
                   count(*) OVER w AS n,
                   sum(v) OVER w AS s,
                   sum(v * v) OVER w AS q
            FROM cents
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        flagged AS (
            SELECT user_id, event_id, ts_us, v, n,
                   CAST(n * v - s AS DECIMAL(38,0)) * CAST(n * v - s AS DECIMAL(38,0))
                       > CAST(9 * n AS DECIMAL(38,0)) * CAST(n * q - s * s AS DECIMAL(38,0))
                       AS is_anomaly
            FROM stats WHERE n >= 5)
        SELECT user_id, event_id, ts_us, CAST(n AS BIGINT) AS n_prior
        FROM flagged WHERE is_anomaly
        ORDER BY user_id, ts_us, event_id
    """

# q_time_weighted_avg, q_stream_twa_runtime
TIME_WEIGHTED_AVG_SQL = """
        WITH s AS (
            SELECT user_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                   epoch_us(ts) AS t_us,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS nxt_us
            FROM events),
        seg AS (
            SELECT user_id, cents, nxt_us - t_us AS dt_us
            FROM s WHERE nxt_us IS NOT NULL)
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(dt_us) AS BIGINT) AS span_us,
               CAST(CAST(sum(CAST(cents AS HUGEINT) * CAST(dt_us AS HUGEINT))
                         * 1000000 AS HUGEINT)
                    // CAST(sum(dt_us) AS HUGEINT) AS BIGINT) AS twa_cents_q6
        FROM seg
        GROUP BY user_id
        ORDER BY user_id
    """

# the dynamic-gap sessionization CTEs (g -> f -> s: per-event gap, running
# session end, session id) under q_session_dynamic_gap and
# q_stream_dynsession_runtime; each appends its own SELECT over ``s``
DYNAMIC_GAP_SESSIONS_CTES = """
        WITH g AS (
            SELECT user_id, ts, event_id,
                   CAST(CASE event_type WHEN 'purchase' THEN 2400
                                        WHEN 'error' THEN 300
                                        ELSE 900 END AS BIGINT) AS gap_s
            FROM events
            WHERE user_id < 50
        ),
        f AS (
            SELECT user_id, ts, event_id, gap_s,
                   max(epoch_us(ts) + gap_s * 1000000) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end_us
            FROM g
        ),
        s AS (
            SELECT user_id, ts, gap_s,
                   CAST(sum(CASE WHEN prev_end_us IS NULL
                                   OR epoch_us(ts) >= prev_end_us
                                 THEN 1 ELSE 0 END) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM f
        )
"""


def temporal_probe_oracle(select: str) -> str:
    """DuckDB oracle of the purchase -> view-version temporal probe: each
    purchase LEFT JOINed to the SCD2 version of its user's view values valid
    at purchase time, projecting ``select``.  Gates ``q_temporal_join`` and
    the stream-static ``q_stream_temporal_runtime``."""
    return f"""
        WITH versions AS (
            SELECT user_id, value,
                   epoch_us(ts) AS valid_from_us,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY epoch_us(ts), value) AS valid_to_us
            FROM events WHERE event_type = 'view'
        )
        SELECT {select}
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN versions v
          ON p.user_id = v.user_id
         AND epoch_us(p.ts) >= v.valid_from_us
         AND (v.valid_to_us IS NULL OR epoch_us(p.ts) < v.valid_to_us)
        ORDER BY p.event_id
    """


# The exact-Jaccard dedup oracles (operators.dedup, operators.cleaning).
# ``sh``: each document's distinct lower-cased word 5-grams (the DuckDB
# slice ``words[i:i+4]`` is 1-based and inclusive); ``sizes``: its shingle
# count; ``inter``: shared shingles per pair id_a < id_b.
SHINGLES_CTE = r"""sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       array_to_string(words[i:i+4], ' ') AS shingle
                FROM (
                    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
                    FROM documents
                ), LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 4, 0))) AS i)
            )
        )"""
SHINGLE_SIZE_CTES = f"""{SHINGLES_CTE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)"""
SHINGLE_INTER_SQL = """SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2"""
JACCARD_CTES = f"""
        WITH {SHINGLE_SIZE_CTES},
        inter AS (
            {SHINGLE_INTER_SQL}
        )
"""
# ``reach`` (src, dst): every node reachable from src along the symmetric
# edge list ``sym`` (src, dst), src itself included; min(dst) labels its
# connected component.  Used by the oracles of the connected-component
# operators (dedup clusters, entity resolution).
REACH_CTES = """nodes AS (SELECT DISTINCT src AS id FROM sym),
        reach AS (
            WITH RECURSIVE r(src, dst) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
            ) SELECT * FROM r
        )"""
# ``reach`` over the graph of document pairs at Jaccard >= 0.5
JACCARD_CLUSTER_CTES = f"""
        WITH pairs AS (
            SELECT id_a, id_b FROM (
{JACCARD_CTES}
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
            )
        ),
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        {REACH_CTES}
"""


def minhash_ctes(num_hashes: int = 16, bands: int = 4) -> str:
    """The sh/sig/banded CTE bodies of the portable MinHash-LSH DuckDB
    replay (md5-60 shingles, md5-word signatures, md5 band keys) — shared
    by the batch LSH oracle (operators/dedup.py) and the streaming near-dup
    gate's oracle (plans/streaming_runtime.py), which append different pair
    selections."""
    rows = num_hashes // bands
    h_mins = ",\n            ".join(
        f"min(CAST(('0x' || substr(md5(CAST(shingle AS VARCHAR) || '#{i // 4}'),"
        f" {(i % 4) * 8 + 1}, 8)) AS BIGINT)) AS h{i}"
        for i in range(num_hashes)
    )

    def key_sql(b: int) -> str:
        concat = " || '#' || ".join(
            f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        return f"CAST(('0x' || substr(md5({concat}), 1, 15)) AS BIGINT)"

    band_rows = "\n                UNION ALL\n".join(
        f"                SELECT doc_id, {b} AS band, {key_sql(b)} AS key FROM sig"
        for b in range(bands)
    )
    return f"""sh AS (
            SELECT DISTINCT doc_id,
                   CAST(('0x' || substr(md5(shingle_str), 1, 15)) AS BIGINT)
                       AS shingle
            FROM (
                SELECT doc_id, array_to_string(words[i:i+4], ' ') AS shingle_str
                FROM (
                    SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\\s+') AS words
                    FROM documents
                ), LATERAL (SELECT unnest(generate_series(1,
                                greatest(len(words) - 4, 0))) AS i)
            )
        ),
        sig AS (
            SELECT doc_id,
            {h_mins}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
{band_rows}
        )"""


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once with ZERO persistent-RDD footprint.

    The cache -> reliable checkpoint -> unpersist sequence: the checkpoint
    job populates the cache blocks (computed once), the checkpoint write
    drains them to the session checkpoint dir, and the unpersist releases
    the blocks — ``getPersistentRDDs()`` is empty afterwards, unlike
    ``.cache()`` (pins until someone remembers to release, the r3 verdict's
    session-hygiene bug) or ``.localCheckpoint()`` (pins block-manager
    storage for its lifetime AND dies with an executor).  Later actions
    read the checkpoint files.  This is the GraphFrames pattern for
    iterative algorithms: it also truncates lineage, so loop operators
    don't grow a plan per iteration.

    Cost: one disk round-trip of ``df``'s rows.  Use for (a) loop state
    that must survive many iterations, (b) shared subtrees too expensive
    to recompute that ``ReusedExchange`` cannot cover.  For cheap shared
    subtrees prefer no pinning at all — identical Exchange subtrees are
    deduplicated by Catalyst for free.
    """
    ensure_checkpoint_dir(df.sparkSession.sparkContext)
    cached = df.cache()
    out = cached.checkpoint(eager=True)
    cached.unpersist()
    return out


_MAT_N = itertools.count()


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once in a SINGLE job: parquet write + read-back.

    ``eager_checkpoint`` costs two jobs per call (the eager count that
    fills the cache, then the RDD-checkpoint write) because RDD
    checkpointing always recomputes under a second action; a parquet
    round-trip folds compute and write into ONE job.  Measured same-process
    A/B at sf0.1 (OPTIMIZATION_r10.md §3): q_emb_pq_adc
    3.37 -> 2.83 s, q_emb_ivfpq_adc 5.2 -> 4.6 s, q_theta_setops
    3.1 -> 2.6 s, q_bfs_levels 2.85 -> 2.61 s — identical rows everywhere.

    NOT a drop-in replacement for ``eager_checkpoint``:

    * tight per-round loop state loses (per-write commit overhead —
      q_kcore_peel flat-to-worse, q_emb_graph_ann's beam 3.5 -> 5.8 s);
    * a materialized table feeding compute-heavy map work loses the
      checkpoint's preserved partition count to read-back split packing
      (q_mutual_knn_pairs / q_emb_matryoshka coded: mat slower);
    * results consumed from a still-warm ``.cache()`` keep the checkpoint
      (q_dedup_clusters: mat slower).

    Use it for ONE-SHOT trained/shared intermediates whose consumers are
    shuffle-bound or broadcast-tiny.  Files land under the checkpoint
    dir keyed by applicationId ("local-..." prefix), so the session
    factory's startup prune bounds the on-disk footprint exactly as it
    does for foreign-session checkpoint leftovers."""
    spark = df.sparkSession
    sc = spark.sparkContext
    path = os.path.join(
        ensure_checkpoint_dir(sc), f"{sc.applicationId}_mat", f"m{next(_MAT_N)}"
    )
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition a small-but-compute-heavy input across the cluster.

    Small parquet tables scan as a single split, so any downstream stage
    with heavy per-row compute (all-pairs scoring, shingle explosion,
    wide partial aggregates, nested-loop joins) runs in ONE task.  A hash
    repartition on the row id costs a shuffle of the (tiny) input and buys
    full parallelism — the inverse of the minimize-shuffle rule, applied
    exactly when per-partition compute dwarfs per-partition bytes.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(key))


def word_ngrams(words: Column, n: int) -> Column:
    """The word n-grams of the token array ``words``, in order, each joined
    with single spaces; empty when there are fewer than ``n`` tokens (the
    guard keeps ``sequence`` from counting down and ``slice`` from seeing
    index 0)."""
    k = F.size(words) - F.lit(n - 1)
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(words, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def kll_exact_cols() -> list[Column]:
    """Aggregates of ``value``'s exact median (``p50_exact``) and its 40th
    and 60th percentiles (``_lo``, ``_hi``): the truth side of the KLL
    rank-window certificate (``kll_rank_ok``)."""
    return [
        F.percentile("value", F.lit(0.5)).alias("p50_exact"),
        F.percentile("value", F.lit(0.4)).alias("_lo"),
        F.percentile("value", F.lit(0.6)).alias("_hi"),
    ]


def kll_merged(sks: Column) -> Column:
    """The KLL sketches of the array ``sks`` merged into one.
    ``kll_sketch_merge_double`` is a binary scalar with no union-aggregate
    form, so the array is folded with a HOF reduce."""
    return F.aggregate(
        F.slice(sks, 2, F.greatest(F.size(sks) - 1, F.lit(0))),
        F.element_at(sks, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )


def kll_rank_ok() -> Column:
    """``rank_ok``: the median of sketch ``sk`` lies between the group's
    exact 40th and 60th percentiles (``kll_exact_cols``).  KLL bounds RANK
    error, not value error, so this window holds for any distribution."""
    est = F.kll_sketch_get_quantile_double("sk", F.lit(0.5))
    return ((est >= F.col("_lo")) & (est <= F.col("_hi"))).alias("rank_ok")
