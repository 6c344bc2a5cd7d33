"""Generalized sequence pattern matching (MATCH_RECOGNIZE-lite).

The reference's "complex" workload class is pattern matching over event
streams (`/root/reference/src/templates/estimation.html:231-245`).  Beyond
the fixed two-step funnel, this operator matches an ARBITRARY k-step
pattern declaratively (``q_cep_three_step`` and ``q_cep_four_step`` both
compile here):

    match_sequence(events, steps=[A, B, C, D], within_s=..., absent=E)

with earliest-match-per-key semantics: step 1 anchors at the key's first
A-event, each later step at the first qualifying event strictly after the
previous step, the whole chain bounded by ``within_s``, and optionally NO
``absent`` event strictly inside the matched span.

Execution shape — the part that matters at 100 TB: each step compiles to a
``min(CASE WHEN ...) OVER (PARTITION BY key)`` window, so the whole pattern
is k+1 chained partition-only window aggregates — ONE shuffle on the key,
no sort window, no self-joins, no Python.  Window chaining works because
step i's anchor column is a per-partition constant by the time step i+1
references it.  Contrast the naive k-way self-join (k shuffles, candidate
blowup) or a per-key Python state machine (Arrow boundary); Flink's
MATCH_RECOGNIZE compiles similar NFA patterns to state-machine operators —
for earliest-match ("AFTER MATCH SKIP PAST LAST ROW" with greedy singleton
steps) the window form is equivalent and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..plans._helpers import cep_chain_oracle, t
from ..plans.registry import query


def match_sequence(
    df: DataFrame,
    steps: list[Column],
    key_col: str = "user_id",
    ts_col: str = "ts",
    within_s: float | None = None,
    absent: Column | None = None,
) -> DataFrame:
    """One row per key whose events contain the step sequence; columns
    ``key_col``, ``t0_s .. t{k-1}_s`` (epoch seconds of each matched step),
    ``span_s``."""
    if not steps:
        raise ValueError("steps must be non-empty")
    wu = W.partitionBy(key_col)
    out = df
    prev: Column | None = None
    t_cols = []
    for i, pred in enumerate(steps):
        cond = pred if prev is None else pred & (F.col(ts_col) > prev)
        out = out.withColumn(
            f"_t{i}", F.min(F.when(cond, F.col(ts_col))).over(wu)
        )
        prev = F.col(f"_t{i}")
        t_cols.append(f"_t{i}")
    first, last = F.col(t_cols[0]), F.col(t_cols[-1])
    if absent is not None:
        out = out.withColumn(
            "_n_absent",
            F.sum(
                F.when(
                    absent & (F.col(ts_col) > first) & (F.col(ts_col) < last),
                    1,
                ).otherwise(0)
            ).over(wu),
        )
    matched = last.isNotNull()
    # all arithmetic in integer microseconds: Spark's timestamp->long cast
    # FLOORS sub-second fractions while DuckDB's epoch() double ROUNDS —
    # micros are exact integers in both engines (repo dtype-parity rule)
    if within_s is not None:
        # round, don't truncate: within_s=0.5 must bound at 500_000 us, not 0
        matched = matched & (
            F.unix_micros(last) - F.unix_micros(first)
            <= int(round(within_s * 1_000_000))
        )
    if absent is not None:
        matched = matched & (F.col("_n_absent") == 0)
    return (
        out.filter(matched)
        .select(
            key_col,
            *[
                F.unix_micros(F.col(c)).alias(f"t{i}_us")
                for i, c in enumerate(t_cols)
            ],
            F.floor(
                (F.unix_micros(last) - F.unix_micros(first)) / F.lit(1_000_000)
            )
            .cast("long")
            .alias("span_s"),
        )
        .distinct()
    )


@query(
    "q_cep_four_step",
    oracle=cep_chain_oracle(),
    tags=("complex", "cep", "pattern", "match-recognize", "negation"),
)
def q_cep_four_step(spark, sf_dir):
    """Four-step pattern with negation and a 48 h bound via the generalized
    matcher: signup -> view -> click -> purchase, earliest-match per user,
    no error strictly inside the span.  Compiles to five chained
    partition-only windows — one shuffle total at any k."""
    ev = t(spark, sf_dir, "events")
    et = F.col("event_type")
    return match_sequence(
        ev,
        steps=[et == "signup", et == "view", et == "click", et == "purchase"],
        within_s=172800,
        absent=et == "error",
    ).orderBy("user_id")


def markov_sequence_scores(
    ev: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    laplace_k: int = 5,
) -> DataFrame:
    """Per-key Markov-chain sequence scores (key, n_trans, nll_q,
    avg_nll_q): fit the Laplace-smoothed first-order transition matrix on
    the whole input, score every key's sequence by 1e-6-quantized -ln p
    sums with exact integer means.  Keys with fewer than two events have
    no transitions and drop out (a one-event sequence has no dynamics to
    score).  See ``q_markov_anomaly`` for the scale analysis; hypothesis
    differential vs a pure-Python scorer in tests/test_property_scorers."""
    seq = ev.select(
        key_col,
        F.lag(type_col)
        .over(W.partitionBy(key_col).orderBy(*order_cols))
        .alias("prev"),
        F.col(type_col).alias("cur"),
    )
    trans = seq.filter(F.col("prev").isNotNull())
    cnt = trans.groupBy("prev", "cur").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("prev").agg(F.sum("c").alias("t"))
    lnd = lambda c: F.log(c.cast("double"))  # noqa: E731
    w = cnt.join(tot, "prev").select(
        "prev",
        "cur",
        F.floor((lnd(F.col("t") + laplace_k) - lnd(F.col("c") + 1)) * 1_000_000)
        .cast("bigint")
        .alias("w_q"),
    )
    return (
        trans.join(F.broadcast(w), ["prev", "cur"])
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_trans"),
            F.sum("w_q").alias("nll_q"),
            F.expr("sum(w_q) DIV count(*)").alias("avg_nll_q"),
        )
    )


@query(
    "q_markov_anomaly",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev,
                   event_type AS cur
            FROM events
        ),
        trans AS (SELECT user_id, prev, cur FROM seq WHERE prev IS NOT NULL),
        cnt AS (
            SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
            FROM trans GROUP BY prev, cur
        ),
        tot AS (
            SELECT prev, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY prev
        ),
        w AS (
            SELECT cnt.prev, cnt.cur,
                   CAST(floor((ln(CAST(t + 5 AS DOUBLE))
                             - ln(CAST(c + 1 AS DOUBLE))) * 1000000) AS BIGINT) AS w_q
            FROM cnt JOIN tot USING (prev)
        ),
        scored AS (
            SELECT trans.user_id,
                   CAST(count(*) AS BIGINT) AS n_trans,
                   CAST(sum(w.w_q) AS BIGINT) AS nll_q,
                   CAST(sum(w.w_q) // count(*) AS BIGINT) AS avg_nll_q
            FROM trans JOIN w USING (prev, cur)
            GROUP BY trans.user_id
        ),
        top AS (
            SELECT * FROM scored ORDER BY avg_nll_q DESC, user_id LIMIT 20
        )
        SELECT CAST(row_number() OVER (ORDER BY avg_nll_q DESC, user_id) AS BIGINT) AS rank,
               user_id, n_trans, nll_q, avg_nll_q
        FROM top
        ORDER BY rank
    """,
    tags=("complex", "sequence", "markov", "anomaly", "trained"),
)
def q_markov_anomaly(spark, sf_dir):
    """Trained first-order Markov-chain sequence anomaly scorer: fit the
    event-type transition matrix on the whole corpus (Laplace-smoothed),
    then score every user's event sequence by its total and per-transition
    negative log-likelihood — users whose behavior least fits the learned
    transition dynamics rank first.  The sequence-model sibling of the
    relational scorers in ``operators/classifier.py`` (CEP asks "did the
    pattern occur"; this asks "how improbable was the sequence").

    Scale shape: transitions come from ONE lag window per user (single
    shuffle on user_id); the learned model is a |types|^2-row weight table
    (25 here — bounded by the event-type alphabet, never by rows), joined
    back by broadcast.  Per-transition -ln p is floor-quantized to 1e-6
    BIGINTs (the q_doc_nll portability contract: exact, order-independent),
    the per-user mean is exact integer division, and the global top-20
    reduces via distributed TakeOrdered before a bounded 20-row rank
    window."""
    top = markov_sequence_scores(t(spark, sf_dir, "events")).orderBy(
        F.desc("avg_nll_q"), "user_id"
    ).limit(20)
    return (
        top.withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("avg_nll_q"), "user_id"))
            .cast("bigint"),
        )
        .select("rank", "user_id", "n_trans", "nll_q", "avg_nll_q")
        .orderBy("rank")
    )
