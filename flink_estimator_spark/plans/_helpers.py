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
    A/B at sf0.1 (optimization r10, tools/exp_materialize.py): q_emb_pq_adc
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
