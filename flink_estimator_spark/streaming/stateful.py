"""Custom stateful operator on Spark 4's ``transformWithStateInPandas`` —
the successor API to ``applyInPandasWithState`` (used by cep.py): typed,
composable state variables (ValueState/ListState/MapState), timers, and TTL
instead of a single opaque state tuple.

Operator here: per-key running totals — the canonical "stateful enrichment"
Flink users write with KeyedProcessFunction, and the estimator's keyed-state
model (keys x statements x record bytes, estimation.py:151-157 in the
reference) prices exactly this shape.  State per key is one fixed-size row,
so the state store footprint is keys x O(1) — matching the reference's
sizing formula.

Runtime dependency: the transformWithState state-server protocol speaks
protobuf (``google.protobuf``), which this container's interpreter does
not ship — but a pure-Python protobuf runtime exists inside the locally
installed Cloud SDK, and :func:`ensure_typed_state_runtime` wires it to
the driver, the TWS driver worker, and the task workers at runtime (no
installation), so the typed-state operators EXECUTE for real here (gated
end-to-end by ``q_stream_tws_topn_runtime`` and the full-stream tests).
Where no runtime can be located the operators raise a clear error;
``cep.py`` (applyInPandasWithState) is the stateful path with no extra
dependency.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

# ---------------------------------------------------------------------------
# Typed-state runtime enablement.  The transformWithState state-server
# protocol needs ``google.protobuf`` in BOTH the driver python (the plan-
# time guard below) and every python WORKER (the state client).  This
# container has no protobuf on sys.path, but a pure-Python protobuf
# runtime ships inside the locally installed Cloud SDK — wiring it in uses
# only runtime mechanisms (sys.path for the driver; ``addPyFile`` of a
# zipped copy + ``sc.environment`` for workers, both captured per-UDF, so
# it works on a foreign, already-started session like the driver gate's).
# The located runtime (6.32) is one minor version older than Spark's
# gencode (6.33); protobuf's own documented escape hatch
# (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK) bridges the gap, and the
# full-stream differential tests value-check the protocol end-to-end —
# the guarantee that actually matters for this use.
# ---------------------------------------------------------------------------

_PB_SEARCH_ROOTS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]
_PB_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"


def _local_protobuf_root() -> "str | None":
    import os

    for root in _PB_SEARCH_ROOTS:
        if os.path.isfile(
            os.path.join(root, "google", "protobuf", "descriptor.py")
        ):
            return root
    return None


def _protobuf_zip(root: str) -> str:
    """Zip the pure-Python ``google/protobuf`` tree (once, cached under the
    gitignored spark-warehouse) for ``addPyFile`` shipping to workers."""
    import os
    import zipfile

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out_dir = os.path.join(repo_root, "spark-warehouse", "_pyfiles")
    os.makedirs(out_dir, exist_ok=True)
    zpath = os.path.join(out_dir, "google_protobuf.zip")
    if os.path.isfile(zpath):
        return zpath
    src = os.path.join(root, "google", "protobuf")
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        # explicit package marker: zipimport + implicit namespace pkgs is
        # version-dependent, a one-line __init__ is not
        zf.writestr(
            "google/__init__.py",
            "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n",
        )
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames[:] = [
                d for d in dirnames if d not in ("__pycache__", "blaze-out")
            ]
            for f in filenames:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                arc = os.path.join(
                    "google/protobuf", os.path.relpath(full, src)
                )
                zf.write(full, arc)
    os.replace(tmp, zpath)
    return zpath


def ensure_typed_state_runtime(spark) -> bool:
    """Make ``transformWithStateInPandas`` runnable in this session, or
    report that it can't be.  Returns True when ``google.protobuf`` is
    importable by the driver AND wired up for python workers; False when
    no runtime can be located (callers skip or raise).  Idempotent and
    safe on a foreign session: worker wiring rides on ``sc.environment``
    and ``addPyFile``, which are captured at UDF-creation time."""
    import os
    import sys

    try:
        from google.protobuf import descriptor  # noqa: F401
        return True  # real install: workers share the interpreter's path
    except ImportError:
        pass
    root = _local_protobuf_root()
    if root is None:
        return False
    os.environ[_PB_FLAG] = "true"
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return False
    sc = spark.sparkContext
    sc.environment[_PB_FLAG] = "true"
    # the TWS "driver worker" (transform_with_state_driver_worker.py) is a
    # separate python process whose env comes from the UDF's envVars — it
    # does not apply addPyFile includes, so hand it the path directly
    extra = sc.environment.get("PYTHONPATH", "")
    if root not in extra.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (
            root + (os.pathsep + extra if extra else "")
        )
    zpath = _protobuf_zip(root)
    already = any(
        os.path.basename(inc) == os.path.basename(zpath)
        for inc in sc._python_includes
    )
    if not already:
        sc.addPyFile(zpath)
    return True


def _typed_state_session(events: DataFrame, fallback: str) -> None:
    """Ready ``events``' session for ``transformWithStateInPandas``: the
    typed-state runtime must be locatable (else ImportError naming the
    dependency-free ``fallback``), and the state store is RocksDB — the
    HDFS-backed default store does not implement the API."""
    spark = events.sparkSession
    if not ensure_typed_state_runtime(spark):
        raise ImportError(
            "transformWithStateInPandas requires the protobuf package "
            "(state-server protocol) and none could be located; use "
            f"{fallback} for the dependency-free variant"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_cents", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_cents", T.LongType()),
    ]
)


class RunningTotals(StatefulProcessor):
    """Per-user cumulative event count + value sum (in integer cents, so the
    running sum is exact and batch-order independent)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        n, cents = (0, 0)
        if self._totals.exists():
            n, cents = self._totals.get()
        for pdf in rows:
            n += len(pdf)
            # round half-even at 2 decimals mirrors the decimal(18,2) cast
            # the batch oracle uses
            cents += int(round(pdf["value"], 2).mul(100).round().astype("int64").sum())
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_cents": [cents]}
        )

    def close(self) -> None:
        pass


def running_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming per-user running totals; emits the updated cumulative row
    for every user seen in each micro-batch.

    ``transformWithState`` runs only on the RocksDB state store (the
    provider the reference's state-size model assumes for large key spaces);
    the HDFS-backed default store does not implement the new API.
    """
    _typed_state_session(
        events, "the applyInPandasWithState operators in streaming/cep.py"
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# k-step sequence matcher on transformWithStateInPandas — the Flink-parity
# state feature set (typed composite state + EVENT-TIME TIMERS) applied to a
# production operator (VERDICT r5 item 6).  The applyInPandasWithState
# variant (streaming/cep.py sequence_matches) stays as the dependency-free
# shadow; this port adds what that API cannot express: a timer that fires
# when the watermark passes t0 + within, resolving a chain that can no
# longer complete and collapsing its state — Flink's KeyedProcessFunction
# timer-cleanup pattern, which is how CEP state stays bounded when most
# keys never finish their pattern.
# ---------------------------------------------------------------------------

SEQ_META_SCHEMA = T.StructType(
    [
        T.StructField("err_us", T.LongType()),
        T.StructField("done", T.BooleanType()),
    ]
)

SEQ_ANCHOR_SCHEMA = T.StructType([T.StructField("t_us", T.LongType())])


class SequenceMatchProcessor(StatefulProcessor):
    """Earliest-match k-step chain per key — semantics identical to
    ``streaming.cep.sequence_matches`` (same anchor/absent/bound rules;
    the hypothesis + fixture shadows of that operator are the contract),
    re-expressed on the typed-state API:

    * ``ListState`` holds the chain anchors (one long per anchored step);
    * ``ValueState`` holds (first absent-event time, resolved flag);
    * an EVENT-TIME TIMER registered at ``t0 + within`` resolves the key
      as dead the moment the watermark proves no bounded chain can ever
      complete, truncating anchor state to the tombstone — state O(k)
      while a chain is open, O(1) after resolution either way.
    """

    def __init__(self, steps, within_s=None, absent=None):
        if not steps:
            raise ValueError("steps must be non-empty")
        self._steps = list(steps)
        self._k = len(steps)
        self._bound_us = (
            None if within_s is None else int(round(within_s * 1_000_000))
        )
        self._absent = absent

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._anchors = handle.getListState("anchors", SEQ_ANCHOR_SCHEMA)
        self._meta = handle.getValueState("meta", SEQ_META_SCHEMA)

    def _expiry_ms(self, t0_us: int) -> int:
        return (t0_us + self._bound_us) // 1000

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        # this operator's dominant cost at gate scale is state-server
        # ROUND TRIPS over the pure-Python protobuf runtime (SCALE.md
        # §7k), so every read/write below is conditional: meta existing
        # implies whether anchors can (meta is written whenever anchors
        # are), and unchanged state is never re-written
        had_meta = self._meta.exists()
        err_us, done = self._meta.get() if had_meta else (None, False)
        # anchors are only ever non-empty while meta exists and the chain
        # is open — skip the list read (and its clear) otherwise
        anchors = (
            [int(r[0]) for r in self._anchors.get()]
            if had_meta and not done
            else []
        )
        err_us0, done0, n_anchors0 = err_us, done, len(anchors)
        out = None
        if not done:
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            # columnar extraction: a per-row .iterrows() measured ~0.8 s
            # over the sf0.1 gate's 20k rows; zipped ndarrays are ~20x
            ets = pdf["event_type"].to_numpy()
            tss = pdf["ts"].to_numpy("datetime64[ns]").astype("int64")
            for et, ns in zip(ets, tss):
                us = int(ns) // 1000  # pandas ns -> epoch micros
                if (
                    self._absent is not None
                    and et == self._absent
                    and anchors
                    and us > anchors[0]
                    and err_us is None
                ):
                    err_us = us
                i = len(anchors)
                if i < self._k and et == self._steps[i] and (
                    i == 0 or us > anchors[i - 1]
                ):
                    anchors.append(us)
                    if i == 0 and self._bound_us is not None:
                        # the chain is now racing the clock: resolve by
                        # timer if the watermark wins
                        self._handle.registerTimer(self._expiry_ms(us))
                    if len(anchors) == self._k:
                        done = True
                        span_us = anchors[-1] - anchors[0]
                        matched = (
                            self._bound_us is None or span_us <= self._bound_us
                        ) and (err_us is None or err_us >= anchors[-1])
                        if matched:
                            row = {"user_id": [key[0]]}
                            for j, a in enumerate(anchors):
                                row[f"t{j}_us"] = [a]
                            row["span_s"] = [span_us // 1_000_000]
                            out = pd.DataFrame(row)
                        if self._bound_us is not None:
                            self._handle.deleteTimer(
                                self._expiry_ms(anchors[0])
                            )
                        break
        anchors_progressed = len(anchors) != n_anchors0 or (done and not done0)
        if anchors_progressed:
            if done or not anchors:
                # tombstone: O(1) state — also the real state store
                # REJECTS put([]) (ILLEGAL_STATE_STORE_VALUE
                # .EMPTY_LIST_VALUE), so an empty chain must clear, not
                # write; a chain that saw no progress skips the write
                # entirely (no-op RPCs removed per the cost note above)
                self._anchors.clear()
            else:
                self._anchors.put([(a,) for a in anchors])
        # meta must exist whenever anchors do (the read-skip invariant
        # above), and must reflect any err/done transition; a key whose
        # batch touched nothing keeps zero state
        if (err_us, done) != (err_us0, done0) or (
            anchors_progressed and not had_meta
        ):
            self._meta.update((err_us, done))
        if out is not None:
            yield out

    def handleExpiredTimer(
        self, key: Any, timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        # watermark passed t0 + within: every future event has ts beyond
        # the bound, so an unresolved chain is dead — resolve and shed the
        # anchor state (nothing is emitted; non-matches are silent, as in
        # the shadow operator)
        err_us, done = (None, False)
        if self._meta.exists():
            err_us, done = self._meta.get()
        if not done:
            self._anchors.clear()
            self._meta.update((err_us, True))
        return iter(())

    def close(self) -> None:
        pass


def sequence_matches_tws(
    events: DataFrame,
    steps: list[str],
    within_s: float | None = None,
    absent: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """``streaming.cep.sequence_matches`` on the transformWithState API —
    same output shape ``(user_id, t0_us .. t{k-1}_us, span_s)``, plus the
    timer-driven state cleanup the legacy API can't express.  Requires
    protobuf (state-server protocol) and the RocksDB state store, like
    :func:`running_totals`; the applyInPandasWithState variant remains the
    dependency-free path and its tests are the semantic contract."""
    _typed_state_session(events, "streaming/cep.py sequence_matches")
    k = len(steps)
    out_fields = [T.StructField("user_id", T.LongType())]
    out_fields += [T.StructField(f"t{i}_us", T.LongType()) for i in range(k)]
    out_fields.append(T.StructField("span_s", T.LongType()))
    return (
        # prune to the processor's working set before the keyed exchange:
        # everything selected here is shuffled AND Arrow-shipped to the
        # Python worker per key — dropping the fixture's wide props column
        # cuts both (SCALE.md §7k)
        events.select("user_id", "event_type", "ts", "event_id")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SequenceMatchProcessor(
                steps, within_s=within_s, absent=absent
            ),
            outputStructType=T.StructType(out_fields),
            outputMode="Update",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# Window top-N on transformWithStateInPandas — the SECOND typed-state
# processor (VERDICT r6 item 4): the event-time-timer top-N whose semantics
# ARE timer firings, ported to the production API that removes the measured
# ~2.8 ms/group legacy dispatch ceiling (SCALE.md §7j).  MapState replaces
# the legacy operator's three parallel arrays (per-user upsert instead of
# rewriting the whole accumulator every batch — the state-store win that
# matters when a window holds many users), and emission happens in
# handleExpiredTimer, exactly the Flink window-fire lifecycle.  The
# applyInPandasWithState gate (streaming/topn.py, q_stream_topn_runtime)
# stays as the dependency-free shadow and semantic contract.
# ---------------------------------------------------------------------------

TOPN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("win_start", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("rk", T.IntegerType()),
    ]
)

TOPN_USER_SCHEMA = T.StructType([T.StructField("user_id", T.LongType())])
TOPN_ACC_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)
TOPN_OPEN_SCHEMA = T.StructType([T.StructField("open", T.BooleanType())])


class WindowTopNProcessor(StatefulProcessor):
    """Top-``top_k`` users by windowed value sum per tumble window, emitted
    ONCE per window from the event-time timer that fires when the
    watermark passes the window's end — key is the window start, state is
    a ``MapState`` (user -> (count, cents)) bounded by the window's active
    users, freed at emission.  Values accumulate as exact integer cents
    (decimal(18,2)-equivalent), so emissions are batch-split independent
    and bit-match the batch shadow ``q_window_topn``'s DECIMAL sums after
    the single output-only /100 double division."""

    def __init__(self, window_s: int = 600, top_k: int = 3):
        self._window_s = int(window_s)
        self._top_k = int(top_k)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._totals = handle.getMapState(
            "totals", TOPN_USER_SCHEMA, TOPN_ACC_SCHEMA
        )
        self._open = handle.getValueState("open", TOPN_OPEN_SCHEMA)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        win_start = int(key[0])
        fresh = not self._open.exists()
        if fresh:
            # first batch of this window: arm the ONE fire-at-close timer
            self._handle.registerTimer((win_start + self._window_s) * 1000)
            self._open.update((True,))
        for pdf in rows:
            # decimal(18,2)-equivalent exact cents (same rounding as the
            # legacy operator and the batch oracle)
            cents_col = (
                pdf["value"].round(2).mul(100).round().to_numpy("int64")
            )
            users_col = pdf["user_id"].to_numpy("int64")
            delta: dict[int, list[int]] = {}
            for u, c in zip(users_col, cents_col):
                acc = delta.setdefault(int(u), [0, 0])
                acc[0] += 1
                acc[1] += int(c)
            # one MapState upsert per DISTINCT user in the batch — the
            # typed-state advantage over rewriting 3 whole arrays.  Empty-
            # map fast path: on the window's FIRST batch every user is
            # new, so skip the per-user read RPC (state-server round trips
            # dominate this operator's cost; this halves them there)
            for u, (dn, dc) in delta.items():
                cur = None if fresh else self._totals.getValue((u,))
                n0, c0 = (int(cur[0]), int(cur[1])) if cur is not None else (0, 0)
                self._totals.updateValue((u,), (n0 + dn, c0 + dc))
            fresh = False
        return iter(())

    def handleExpiredTimer(
        self, key: Any, timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator[pd.DataFrame]:
        # watermark passed win_start + window_s: rank, emit once, free the
        # window's entire state (map + open flag)
        ranked = sorted(
            (
                (int(k[0]), int(v[0]), int(v[1]))
                for k, v in self._totals.iterator()
            ),
            key=lambda t: (-t[2], t[0]),
        )[: self._top_k]
        self._totals.clear()
        self._open.clear()
        if ranked:
            yield pd.DataFrame(
                {
                    "win_start": [int(key[0])] * len(ranked),
                    "user_id": [u for u, _, _ in ranked],
                    "n": [n for _, n, _ in ranked],
                    "sum_value": [c / 100.0 for _, _, c in ranked],
                    "rk": list(range(1, len(ranked) + 1)),
                }
            )

    def close(self) -> None:
        pass


def window_topn_tws(
    events: DataFrame,
    watermark: str = "30 minutes",
    window_s: int = 600,
    top_k: int = 3,
) -> DataFrame:
    """``streaming.topn.window_topn`` on the transformWithState API — same
    output shape ``(win_start, user_id, n, sum_value, rk)`` and firing
    semantics (one append per window at watermark close), with MapState
    per-user upserts and a typed event-time timer instead of the legacy
    timeout channel.  Requires protobuf (state-server protocol) and the
    RocksDB state store, like :func:`running_totals`; the legacy gate
    query ``q_stream_topn_runtime`` remains the dependency-free shadow."""
    _typed_state_session(events, "streaming/topn.py window_topn")
    win_start = (F.floor(F.unix_timestamp("ts") / window_s) * window_s).cast(
        "long"
    )
    return (
        # prune to (event-time, key, measure) before the keyed exchange —
        # the processor touches only user_id/value, and ts rides along as
        # the watermark column (SCALE.md §7k)
        events.select("ts", "user_id", "value")
        .withWatermark("ts", watermark)
        .withColumn("win_start", win_start)
        .groupBy("win_start")
        .transformWithStateInPandas(
            statefulProcessor=WindowTopNProcessor(window_s, top_k),
            outputStructType=TOPN_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# TTL'd ValueState dedup — the THIRD transformWithState state pillar.
# RunningTotals exercises typed variables, SequenceMatch/WindowTopN exercise
# event-time timers; this processor exercises the TTL CONFIG channel
# (getValueState(..., ttlDurationMs=...)): the store itself expires a key's
# "seen" marker after ttl of PROCESSING time, with no timer bookkeeping in
# the processor — Flink's StateTtlConfig re-expressed.  Differentially
# shadowed against dropDuplicatesWithinWatermark (the gated
# q_stream_dedup_ttl_runtime), whose eviction machinery is event-time
# watermark horizon instead: same first-emission-per-live-key semantics,
# different expiry clock (tests/test_streaming.py pins both the agreement
# under a non-expiring TTL and the re-emission after a real expiry).
# ---------------------------------------------------------------------------

TTL_SEEN_SCHEMA = T.StructType([T.StructField("seen", T.LongType())])


class TTLDedupProcessor(StatefulProcessor):
    """Emit each key's FIRST occurrence; suppress repeats while the TTL'd
    marker lives.  Duplicates do NOT refresh the marker (no ``update`` on
    the suppress path — a TTL state update would reset its expiration),
    mirroring dropDuplicatesWithinWatermark's first-seen expiry anchor.

    State is one TTL'd boolean per live key: the store evicts it
    ``ttl_ms`` after the emission, so state size tracks the number of
    keys seen per TTL horizon, never stream length — the property that
    makes dedup survive 100 TB/day (SCALE.md §7k bounds the gate cost)."""

    def __init__(self, key_fields: list[str], ttl_ms: int):
        self._key_fields = list(key_fields)
        self._ttl_ms = int(ttl_ms)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getValueState(
            "seen", TTL_SEEN_SCHEMA, ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        for _ in rows:  # drain: only key presence matters
            pass
        if self._seen.exists():
            return
        self._seen.update((1,))
        yield pd.DataFrame(
            {f: [key[i]] for i, f in enumerate(self._key_fields)}
        )

    def close(self) -> None:
        pass


def ttl_dedup_tws(
    events: DataFrame, keys: list[str], ttl_ms: int
) -> DataFrame:
    """Streaming first-occurrence dedup on ``keys`` whose state expires
    after ``ttl_ms`` of processing time, via the TWS TTL config.  Requires
    protobuf (state-server protocol) and the RocksDB state store like
    :func:`running_totals`; ``streaming.dedup.dedup_within_watermark``
    is the dependency-free event-time shadow."""
    _typed_state_session(events, "streaming/dedup.py dedup_within_watermark")
    out_schema = T.StructType([events.schema[k] for k in keys])
    # only key PRESENCE matters to the processor — prune to the key
    # columns so the exchange and per-key Arrow batches carry nothing else
    return events.select(*keys).groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=TTLDedupProcessor(keys, ttl_ms),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


# ---------------------------------------------------------------------------
# COUNT windows (Flink countWindow) — applyInPandasWithState, no extra deps
# ---------------------------------------------------------------------------

COUNT_WINDOW_SIZE = 3

COUNT_WINDOW_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("win_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("first_event", T.LongType()),
        T.StructField("last_event", T.LongType()),
        T.StructField("sum_value_u6", T.LongType()),
    ]
)

# (next_win, open_n, open_first, open_last, open_sum_u6): the single open
# window's accumulator — O(1) state per key regardless of stream length,
# the defining property of a count window (vs time windows, whose state
# scales with in-flight window count).
COUNT_WINDOW_STATE = T.StructType(
    [
        T.StructField("next_win", T.LongType()),
        T.StructField("open_n", T.LongType()),
        T.StructField("open_first", T.LongType()),
        T.StructField("open_last", T.LongType()),
        T.StructField("open_sum_u6", T.LongType()),
    ]
)


def _count_window(key, pdfs, state):
    from pyspark.sql.streaming.state import GroupState  # noqa: F401

    next_win, open_n, open_first, open_last, open_sum = 0, 0, 0, 0, 0
    if state.exists:
        next_win, open_n, open_first, open_last, open_sum = (
            int(x) for x in state.get
        )
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])  # event-time order in batch
    out = []
    for _, r in rows.iterrows():
        eid = int(r["event_id"])
        v6 = int(round(float(r["value"]) * 1_000_000))
        if open_n == 0:
            open_first = eid
        open_n += 1
        open_last = eid
        open_sum += v6
        if open_n == COUNT_WINDOW_SIZE:
            out.append((key[0], next_win, open_n, open_first, open_last, open_sum))
            next_win += 1
            open_n, open_first, open_last, open_sum = 0, 0, 0, 0
    state.update((next_win, open_n, open_first, open_last, open_sum))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "win_id",
                "n",
                "first_event",
                "last_event",
                "sum_value_u6",
            ],
        )


def count_window(events: DataFrame) -> DataFrame:
    """Flink countWindow(3) in Structured Streaming: per-user tumbling
    windows that close on their 3rd event (event-time order), emitted the
    moment they close — an operator Spark has no native TVF for, built on
    ``applyInPandasWithState`` (the dependency-free stateful API; see
    module docstring for the transformWithState variant's protobuf need).
    The trailing partial window stays open in state; the batch dual
    (plans/window_tvf.q_count_window) emits partials at end-of-input, so
    shadows compare CLOSED windows.  Value sums ride as integer micro
    units computed with one fixed rounding, keeping emitted rows identical
    however micro-batches split the stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_window,
            outputStructType=COUNT_WINDOW_OUTPUT,
            stateStructType=COUNT_WINDOW_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
