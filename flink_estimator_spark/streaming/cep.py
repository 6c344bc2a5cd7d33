"""CEP / pattern matching as a custom stateful streaming operator.

Spark has no MATCH_RECOGNIZE; the reference models CEP as its "complex"
statement class (estimation.html:231-245).  Implemented here with
``applyInPandasWithState``: per-key state carries the open pattern prefixes
(signup timestamps), each arriving purchase is matched against them within
the pattern window.  The batch oracle is ``q_cep_funnel`` (interval self-join
in plans/analytic.py) — the streaming totals must converge to it.

Scale notes: state is per user_id and bounded by the pattern window (old
signups are pruned on every invocation); a state timeout evicts idle keys.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_conversions", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("signup_ts", T.ArrayType(T.DoubleType())),
        T.StructField("total", T.LongType()),
    ]
)

PATTERN_WINDOW_S = 86400.0  # purchase within 24h of signup


def _detect(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    signups, total = ([], 0)
    if state.exists:
        stored_signups, stored_total = state.get
        signups = list(stored_signups)
        total = int(stored_total)
    new_matches = 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])  # event-time order within batch
    for _, r in rows.iterrows():
        et = r["event_type"]
        ts = r["ts"].timestamp()
        if et == "signup":
            signups.append(ts)
        elif et == "purchase":
            # prune expired prefixes, then count every open signup as a match
            signups = [s for s in signups if ts - s <= PATTERN_WINDOW_S]
            new_matches += sum(1 for s in signups if ts > s)
    total += new_matches
    state.update((signups, total))
    if new_matches:
        yield pd.DataFrame({"user_id": [key[0]], "n_conversions": [total]})


def sequence_matches(
    events: DataFrame,
    steps: list[str],
    within_s: float | None = None,
    absent: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dual of :func:`operators.sequence.match_sequence` — the
    generalized k-step MATCH_RECOGNIZE-lite — as a per-key state machine on
    ``applyInPandasWithState``.

    Semantics (identical to the batch operator, earliest-match per key):
    step 0 anchors at the key's first ``steps[0]`` event, step i at the
    first ``steps[i]`` event strictly after step i-1; once the last step
    anchors the chain resolves exactly once — matched iff the whole span
    fits ``within_s`` and no ``absent`` event lies strictly inside
    ``(t0, t_last)``.  Output rows match the batch shape:
    ``(key, t0_us .. t{k-1}_us, span_s)``.

    State is O(k) longs per key regardless of event volume — the chain
    anchors are the only memory, unlike an NFA with nondeterministic
    branching (earliest-match needs no backtracking).  Like the funnel
    detector above, cross-micro-batch event-time order is assumed from the
    source (batches sorted within themselves); a production deployment
    would delay resolution by the watermark before emitting.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    out_fields = [T.StructField("user_id", T.LongType())]
    out_fields += [T.StructField(f"t{i}_us", T.LongType()) for i in range(k)]
    out_fields.append(T.StructField("span_s", T.LongType()))
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [
            T.StructField("anchors", T.ArrayType(T.LongType())),
            T.StructField("err_us", T.LongType()),
            T.StructField("done", T.BooleanType()),
        ]
    )
    bound_us = None if within_s is None else int(round(within_s * 1_000_000))

    def _match(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState):
        anchors: list[int] = []
        err_us = None
        done = False
        if state.exists:
            stored_anchors, err_us, done = state.get
            anchors = list(stored_anchors or [])
        out = None
        if not done:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            for _, r in rows.iterrows():
                et = r["event_type"]
                us = int(r["ts"].value // 1000)  # pandas ns -> epoch micros
                if (
                    absent is not None
                    and et == absent
                    and anchors
                    and us > anchors[0]
                    and err_us is None
                ):
                    err_us = us
                i = len(anchors)
                if i < k and et == steps[i] and (i == 0 or us > anchors[i - 1]):
                    anchors.append(us)
                    if len(anchors) == k:
                        done = True
                        span_us = anchors[-1] - anchors[0]
                        matched = (
                            bound_us is None or span_us <= bound_us
                        ) and (err_us is None or err_us >= anchors[-1])
                        if matched:
                            row = {"user_id": [key[0]]}
                            for j, a in enumerate(anchors):
                                row[f"t{j}_us"] = [a]
                            row["span_s"] = [span_us // 1_000_000]
                            out = pd.DataFrame(row)
                        break
        state.update((anchors, err_us, done))
        if out is not None:
            yield out

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _match,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_conversions(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming funnel detector: emits (user_id, cumulative n_conversions)
    whenever new signup->purchase matches complete."""
    relevant = events.filter(F.col("event_type").isin("signup", "purchase"))
    return (
        relevant.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _detect,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
