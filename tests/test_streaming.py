"""Structured Streaming operators vs their batch shadows.

Each streaming query is driven from a temp directory of parquet files (the
sf0.001 events split into two micro-batches, plus a far-future sentinel row
that pushes the watermark past every real window so append-mode results are
complete), then compared against the equivalent batch query on the same rows.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_estimator_spark.streaming import (
    dedup_within_watermark,
    events_stream,
    funnel_conversions,
    session_agg,
    tumble_agg,
)
from tests.conftest import SF_SMALL

SENTINEL_USER = 10**9


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """events sf0.001 split in two time-ordered files + watermark sentinel."""
    src = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    pdf = src.to_pandas().sort_values("ts").reset_index(drop=True)
    d = tmp_path_factory.mktemp("events_stream")
    half = len(pdf) // 2
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:half], preserve_index=False),
                   str(d / "part-000.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[half:], preserve_index=False),
                   str(d / "part-001.parquet"))
    sentinel = pdf.iloc[[-1]].copy()
    # keep the source resolution: us-resolution ts + a (ns-default) Timedelta
    # promotes to ns, which would give the sentinel file a different parquet
    # encoding than the other parts and break the single-schema stream read
    sentinel["ts"] = (sentinel["ts"] + pd.Timedelta(days=10)).astype(pdf["ts"].dtype)
    sentinel["event_id"] = 10**12
    sentinel["user_id"] = SENTINEL_USER
    sentinel["event_type"] = "view"
    pq.write_table(pa.Table.from_pandas(sentinel, preserve_index=False),
                   str(d / "part-002-sentinel.parquet"))
    # FileStreamSource orders micro-batches by millisecond mtime; writes of
    # small files can tie within one tick, which would let the far-future
    # sentinel randomly become batch 0 and turn every real event late.
    # Strictly ascending mtimes make batch order deterministic.
    import time as _time

    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(str(d)))):
        os.utime(str(d / f), (now + i, now + i))
    return str(d)


def _run_stream(spark, df, name, tmp_path, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _batch_events(spark):
    from flink_estimator_spark.sources.tables import read_table

    return read_table(spark, os.path.join(SF_SMALL, "events.parquet"))


def test_tumble_stream_matches_batch(spark, stream_dir, tmp_path):
    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, tumble_agg(ev), "tumble_out", tmp_path)
    got = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in out.collect()
    }
    batch = _batch_events(spark)
    exp_df = (
        batch.groupBy(F.window("ts", "10 minutes").start.cast("long").alias("win_start"),
                      "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
    )
    exp = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in exp_df.collect()
    }
    # every real (non-sentinel) window must be emitted and identical
    missing = {k: v for k, v in exp.items() if k not in got}
    assert not missing, f"windows not emitted: {list(missing)[:5]}"
    for k, v in exp.items():
        assert got[k] == v, (k, got[k], v)


def test_dedup_within_watermark_drops_duplicates(spark, stream_dir, tmp_path, tmp_path_factory):
    # duplicate both event files -> every event arrives twice across batches
    d = tmp_path_factory.mktemp("events_dup")
    import time as _time

    now = _time.time()
    i = 0
    for f in sorted(os.listdir(stream_dir)):
        for dst_name in ([f] if "sentinel" in f else [f, f.replace("part-", "dup-")]):
            dst = os.path.join(str(d), dst_name)
            shutil.copy(os.path.join(stream_dir, f), dst)
            # deterministic batch order (see stream_dir fixture note)
            os.utime(dst, (now + i, now + i))
            i += 1
    ev = events_stream(spark, str(d))
    out = _run_stream(
        spark, dedup_within_watermark(ev, ["event_id"], watermark="40 days"),
        "dedup_out", tmp_path,
    )
    n_distinct = _batch_events(spark).count() + 1  # + sentinel
    assert out.count() == n_distinct


def test_cep_funnel_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.plans import QUERIES

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, funnel_conversions(ev, watermark="40 days"),
                      "funnel_out", tmp_path, mode="update")
    # update mode: last emission per user is the cumulative total
    pdf = out.toPandas()
    got = pdf.groupby("user_id")["n_conversions"].max().to_dict()
    exp = {
        r["user_id"]: r["n_conversions"]
        for r in QUERIES["q_cep_funnel"].builder(spark, SF_SMALL).collect()
    }
    assert got == exp


def test_session_stream_matches_batch_counts(spark, stream_dir, tmp_path):
    ev = events_stream(spark, stream_dir)
    # small watermark: the +10d sentinel then pushes it past every real session
    out = _run_stream(spark, session_agg(ev, gap="30 minutes", watermark="30 minutes"),
                      "session_out", tmp_path)
    got = (
        out.filter(F.col("user_id") != SENTINEL_USER)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got_map = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got.collect()}

    # batch shadow: gaps-and-islands sessionization over all users
    from pyspark.sql import Window as W

    batch = _batch_events(spark)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    flagged = batch.withColumn(
        "new_session", F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    )
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = flagged.withColumn("sid", F.sum("new_session").over(cum))
    exp = (
        sess.groupBy("user_id")
        .agg(F.countDistinct("sid").alias("n_sessions"), F.count("*").alias("n_events"))
    )
    exp_map = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in exp.collect()}
    assert got_map == exp_map


def test_session_dynamic_gap_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.streaming import session_agg_dynamic

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, session_agg_dynamic(ev, watermark="30 minutes"), "dynsess_out", tmp_path
    )
    got = {
        (r["user_id"], r["sess_start_us"], r["sess_end_us"], r["n_events"])
        for r in out.filter(
            (F.col("user_id") != SENTINEL_USER) & (F.col("user_id") < 50)
        ).collect()
    }
    exp = {
        (r["user_id"], r["sess_start_us"], r["sess_end_us"], r["n_events"])
        for r in QUERIES["q_session_dynamic_gap"].builder(spark, SF_SMALL).collect()
    }
    missing = exp - got
    assert not missing, f"sessions not emitted: {list(missing)[:5]}"
    assert got == exp


def _cep3_events(n_users=300):
    """Synthetic events exercising every edge of the three-step pattern
    (signup -> view -> purchase within 7200 s, no error strictly inside),
    one scenario per ``user_id % 10``; 180 of the 300 users match."""
    t0 = pd.Timestamp("2024-01-01")
    us = lambda n: pd.Timedelta(microseconds=n)  # noqa: E731
    sec = lambda n: pd.Timedelta(seconds=n)  # noqa: E731
    scenarios = [
        # span exactly 7200 s: matches
        [("signup", sec(0)), ("view", sec(100)), ("purchase", sec(7200))],
        # span 7200 s + 1 us: too late
        [("signup", sec(0)), ("view", sec(100)), ("purchase", sec(7200) + us(1))],
        # span 7200 s - 1 us: matches
        [("signup", sec(0)), ("view", sec(100)), ("purchase", sec(7200) - us(1))],
        # error strictly inside the span: no match
        [("signup", sec(0)), ("view", sec(10)), ("error", sec(20)), ("purchase", sec(3600))],
        # the only view precedes the signup: no match
        [("view", sec(-10)), ("signup", sec(0)), ("purchase", sec(100))],
        # a view before the signup and one after: the later one anchors
        [("view", sec(-10)), ("signup", sec(0)), ("view", sec(50)), ("purchase", sec(200))],
        # error at the purchase instant and after it: not inside, matches
        [("signup", sec(0)), ("view", sec(5)), ("error", sec(60)),
         ("purchase", sec(60)), ("error", sec(90))],
        # error before the signup: matches
        [("error", sec(-5)), ("signup", sec(0)), ("view", sec(1)), ("purchase", sec(2))],
        # the earliest signup anchors the span (7300 s): no match
        [("signup", sec(0)), ("signup", sec(100)), ("view", sec(200)), ("purchase", sec(7300))],
        # a view at the signup instant is not after it; the first purchase wins
        [("signup", sec(0)), ("view", sec(0)), ("view", us(1)),
         ("purchase", us(2)), ("purchase", sec(30))],
    ]
    rows = []
    for u in range(n_users):
        base = t0 + pd.Timedelta(days=u)
        for et, off in scenarios[u % 10]:
            rows.append((len(rows), base + off, u, et, 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def test_cep_three_step_stream_matches_batch(spark, tmp_path):
    """The streaming k-step matcher with the three CEP steps returns
    exactly q_cep_three_step's rows over events that hit every boundary of
    the pattern (exact and +-1 us spans, errors inside, at and outside the
    span, views before the signup, repeated anchors)."""
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.streaming import sequence_matches

    tbl = _cep3_events()
    (tmp_path / "sf").mkdir()
    (tmp_path / "stream").mkdir()
    pq.write_table(tbl, str(tmp_path / "sf" / "events.parquet"))
    pq.write_table(tbl, str(tmp_path / "stream" / "part-000.parquet"))
    ev = events_stream(spark, str(tmp_path / "stream"))
    out = _run_stream(
        spark,
        sequence_matches(
            ev,
            steps=["signup", "view", "purchase"],
            within_s=7200,
            absent="error",
            watermark="40 days",
        ),
        "cep3_out",
        tmp_path,
        mode="update",
    )
    got = {
        (r["user_id"], r["t0_us"], r["t1_us"], r["t2_us"]) for r in out.collect()
    }
    exp = {
        (r["user_id"], r["signup_us"], r["view_us"], r["purchase_us"])
        for r in QUERIES["q_cep_three_step"].builder(spark, str(tmp_path / "sf")).collect()
    }
    assert len(exp) == 180, "batch side lost a scenario"
    assert got == exp


def test_cep_three_step_oracle_matches_builder_on_boundary_events(spark, tmp_path):
    """q_cep_three_step's DuckDB oracle and its builder return the same 180
    matches over ``_cep3_events``: the fixture tables hold 0-1 matching
    users, so this is where the oracle's 7200 s bound, its strict error
    window and its anchors are checked against the builder."""
    import duckdb

    from flink_estimator_spark.plans import QUERIES, get_oracle_sql

    path = str(tmp_path / "events.parquet")
    pq.write_table(_cep3_events(), path)
    got = sorted(tuple(r) for r in QUERIES["q_cep_three_step"].builder(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(get_oracle_sql()["q_cep_three_step"]).fetchall())
    con.close()
    assert len(want) == 180
    assert got == want


def test_sequence_matches_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming k-step matcher vs the gated batch q_cep_four_step: same
    steps/bound/negation config must yield identical match rows."""
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.streaming import sequence_matches

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark,
        sequence_matches(
            ev,
            steps=["signup", "view", "click", "purchase"],
            within_s=172800,
            absent="error",
            watermark="40 days",
        ),
        "seq_out",
        tmp_path,
        mode="update",
    )
    cols = ["user_id", "t0_us", "t1_us", "t2_us", "t3_us", "span_s"]
    got = {
        tuple(r[c] for c in cols)
        for r in out.filter(F.col("user_id") != SENTINEL_USER).collect()
    }
    exp = {
        tuple(r[c] for c in cols)
        for r in QUERIES["q_cep_four_step"].builder(spark, SF_SMALL).collect()
    }
    assert got == exp
    assert exp, "batch shadow is vacuous at this fixture"


def test_sequence_matches_k2_matches_batch_match_sequence(spark, stream_dir, tmp_path):
    """k is genuinely generic: a 2-step config must equal the batch
    match_sequence with the same 2-step pattern (no within/absent)."""
    from flink_estimator_spark.operators.sequence import match_sequence
    from flink_estimator_spark.streaming import sequence_matches

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark,
        sequence_matches(ev, steps=["signup", "purchase"], watermark="40 days"),
        "seq2_out",
        tmp_path,
        mode="update",
    )
    cols = ["user_id", "t0_us", "t1_us", "span_s"]
    got = {
        tuple(r[c] for c in cols)
        for r in out.filter(F.col("user_id") != SENTINEL_USER).collect()
    }
    et = F.col("event_type")
    batch = match_sequence(
        _batch_events(spark), steps=[et == "signup", et == "purchase"]
    )
    exp = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert got == exp
    assert exp


def test_stream_config_from_estimator(spark):
    from flink_estimator_spark.estimator import Scenario
    from flink_estimator_spark.streaming import (
        apply_stream_config,
        stream_config_from_estimate,
    )

    cfg = stream_config_from_estimate(
        Scenario(project_name="stream", worker_node_type="VM", worker_node_t_size="S")
    )
    assert cfg.shuffle_partitions >= 1
    assert cfg.checkpoint_interval_ms == 9000  # BASELINE default_vm_s golden
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        apply_stream_config(spark, cfg)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cfg.shuffle_partitions)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_interval_join_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming import view_purchase_interval_join

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, view_purchase_interval_join(ev), "ivjoin_out", tmp_path
    )
    got = {
        (r["user_id"], r["purchase_id"], r["view_id"]) for r in out.collect()
    }
    exp = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in view_purchase_interval_join(_batch_events(spark)).collect()
    }
    missing = exp - got
    assert not missing, f"pairs not emitted: {list(missing)[:5]}"
    assert got == exp


def test_sequence_matches_tws_matches_batch(spark, stream_dir, tmp_path):
    """The transformWithStateInPandas port of the k-step matcher must equal
    the gated batch q_cep_four_step like the applyInPandasWithState variant
    does — run as a REAL stream: ensure_typed_state_runtime wires the
    locally-located protobuf runtime into driver + workers (skip only when
    no runtime exists at all); the faked-state unit differentials stay in
    tests/test_tws_processor.py."""
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
    )

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.streaming import sequence_matches_tws

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark,
        sequence_matches_tws(
            ev,
            steps=["signup", "view", "click", "purchase"],
            within_s=172800,
            absent="error",
            watermark="40 days",
        ),
        "seqtws_out",
        tmp_path,
        mode="update",
    )
    cols = ["user_id", "t0_us", "t1_us", "t2_us", "t3_us", "span_s"]
    got = {
        tuple(r[c] for c in cols)
        for r in out.filter(F.col("user_id") != SENTINEL_USER).collect()
    }
    exp = {
        tuple(r[c] for c in cols)
        for r in QUERIES["q_cep_four_step"].builder(spark, SF_SMALL).collect()
    }
    assert got == exp


def test_transform_with_state_running_totals(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
    )

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")
    from flink_estimator_spark.streaming import running_totals

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, running_totals(ev), "twsp_out", tmp_path, mode="update"
    )
    pdf = out.toPandas()
    # update mode: the max cumulative count per user is the final state
    last = pdf.sort_values("n_events").groupby("user_id").last()
    got = {
        int(uid): (int(r["n_events"]), int(r["sum_value_cents"]))
        for uid, r in last.iterrows()
        if uid != SENTINEL_USER
    }
    exp_df = (
        _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 2) * 100).cast("long").alias("cents"),
        )
    )
    exp = {
        int(r["user_id"]): (int(r["n_events"]), int(r["cents"]))
        for r in exp_df.collect()
    }
    assert got == exp


def _start_tws(spark, df, ckpt, rows):
    """Start a ProcessingTime transformWithState stream into a row list.

    TTL state requires timeMode="ProcessingTime"
    (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), and in that
    mode the operator schedules perpetual "cleaning up state" batches, so
    NEITHER processAllAvailable NOR availableNow ever signals completion
    — the caller polls a condition and stops the query manually.  State
    partitions pinned small per the _run_stream finding (each
    partition instantiates a RocksDB store per batch)."""
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    return (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )


def _tws_wait(q, pred, timeout_s=240.0):
    import time as _time

    t0 = _time.time()
    while _time.time() - t0 < timeout_s:
        if q.exception():
            raise q.exception()
        if pred():
            return True
        _time.sleep(0.3)
    return False


_TWS_SEEN: dict = {}


def _tws_inputs_seen(q):
    """Cumulative input rows consumed by ``q``.  recentProgress retains
    only ~100 entries and ProcessingTime TTL streams schedule perpetual
    cleanup batches, so re-summing the window can LOSE input-bearing
    entries on a slow machine; accumulating per newly seen batchId keeps
    the count monotone for the life of the run."""
    last, cum = _TWS_SEEN.get(q.runId, (-1, 0))
    for p in q.recentProgress:
        bid = int(p["batchId"])
        if bid > last:
            cum += int(p["numInputRows"])
            last = bid
    _TWS_SEEN[q.runId] = (last, cum)
    return cum


def test_ttl_dedup_tws_matches_watermark_dedup(spark, stream_dir, tmp_path):
    """TTL pillar, semantic half: with a TTL no run can outlive (1 h of
    processing time for a seconds-long stream), the TTL'd ValueState dedup
    must emit exactly the distinct key set — the same contract the gated
    q_stream_dedup_ttl_runtime states for dropDuplicatesWithinWatermark
    over the bounded fixture (its 96 h event-time horizon also never
    expires in-run).  Full stream on the real RocksDB store, TTL config
    engaged end to end."""
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
    )

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")
    from flink_estimator_spark.streaming import ttl_dedup_tws

    exp = {
        (r["user_id"], r["event_type"], r["day"])
        for r in _batch_events(spark)
        .select(
            "user_id",
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        )
        .distinct()
        .collect()
    }
    ev = events_stream(spark, stream_dir).withColumn(
        "day", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    )
    rows: list = []
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    q = _start_tws(
        spark,
        ttl_dedup_tws(ev, ["user_id", "event_type", "day"], ttl_ms=3_600_000),
        str(tmp_path / "ckpt_ttl_sem"),
        rows,
    )
    try:
        def keys():
            return {
                (r["user_id"], r["event_type"], r["day"])
                for r in rows
                if r["user_id"] != SENTINEL_USER
            }

        n_input = _batch_events(spark).count() + 1  # + sentinel
        assert _tws_wait(q, lambda: _tws_inputs_seen(q) >= n_input), (
            "stream never consumed the full fixture"
        )
        assert _tws_wait(q, lambda: keys() >= exp), (
            f"timed out at {len(keys())}/{len(exp)} keys"
        )
        n_settle = sum(1 for r in rows if r["user_id"] != SENTINEL_USER)
        _tws_wait(q, lambda: False, timeout_s=2.0)  # settle: catch dups
        assert (
            sum(1 for r in rows if r["user_id"] != SENTINEL_USER) == n_settle
        ), "keys re-emitted without expiry"
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    emitted = [
        (r["user_id"], r["event_type"], r["day"])
        for r in rows
        if r["user_id"] != SENTINEL_USER
    ]
    assert set(emitted) == exp
    # first-emission-only: no key may appear twice
    assert len(emitted) == len(set(emitted))


def test_ttl_dedup_tws_state_survives_restart(spark, tmp_path, tmp_path_factory):
    """The fault-tolerance matrix's LAST untested cell (r8 verdict closed
    built-in-state x restart and r9 closed typed-event-time x restart):
    TTL'd ValueState across a checkpoint stop/resume.  Phase 1 emits key
    A and is STOPPED; phase 2 stages a duplicate of A plus a new key B
    and a brand-new query resumes from the checkpoint — a recovered
    1 h marker must keep suppressing A (state lost in the restart would
    re-emit it) while B proves the resumed stream is live.  Real RocksDB
    store, ProcessingTime mode, file-source offsets recovered so phase 2
    reads only the new file."""
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
    )

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")
    from flink_estimator_spark.streaming import ttl_dedup_tws

    src = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    one = src.to_pandas().sort_values("ts").iloc[[0]].reset_index(drop=True)
    other = one.copy()
    other["user_id"] = one["user_id"] + 1  # second distinct key

    d = tmp_path_factory.mktemp("events_ttl_restart")
    ckpt = str(tmp_path / "ckpt_ttl_restart")
    pq.write_table(pa.Table.from_pandas(one, preserve_index=False),
                   str(d / "part-000.parquet"))

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    key = (int(one["user_id"][0]), str(one["event_type"][0]))

    def start(rows):
        return _start_tws(
            spark,
            ttl_dedup_tws(
                events_stream(spark, str(d)),
                ["user_id", "event_type"],
                ttl_ms=3_600_000,
            ),
            ckpt,
            rows,
        )

    rows1: list = []
    q = start(rows1)
    try:
        # stop only once the emitting batch is in the commit log: a stop
        # between the sink and the commit makes the resumed query replay
        # batch 0 and re-emit A from state it never committed
        assert _tws_wait(
            q,
            lambda: len(rows1) == 1
            and os.path.exists(os.path.join(ckpt, "commits", "0")),
        ), "phase-1 emission"
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    assert (int(rows1[0]["user_id"]), str(rows1[0]["event_type"])) == key

    # the duplicate + the new key land while the query is DOWN
    both = pd.concat([one, other], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(both, preserve_index=False),
                   str(d / "part-001.parquet"))

    rows2: list = []
    q = start(rows2)
    try:
        assert _tws_wait(q, lambda: len(rows2) >= 1), "phase-2 emission"
        _tws_wait(q, lambda: False, timeout_s=2.0)  # settle: catch dup of A
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    emitted = {(int(r["user_id"]), str(r["event_type"])) for r in rows2}
    assert emitted == {(key[0] + 1, key[1])}, (
        f"recovered TTL marker must suppress the duplicate and emit only "
        f"the new key; got {emitted}"
    )


def test_ttl_dedup_tws_expires_and_reemits(spark, tmp_path, tmp_path_factory):
    """TTL pillar, lifecycle half: with a 1 ms TTL and a second arrival
    of the same key after a real wall-clock gap, the store must EVICT the
    seen marker in between so the key is re-emitted — the eviction
    machinery itself, which the non-expiring semantic test cannot see.
    A control stream with a 1 h TTL over the same two arrivals suppresses
    the repeat, isolating expiry (not restart/replay) as the cause."""
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
    )

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")
    import time as _time

    from flink_estimator_spark.streaming import ttl_dedup_tws

    src = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    one = src.to_pandas().sort_values("ts").iloc[[0]].reset_index(drop=True)

    results = {}
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    for label, ttl_ms in (("tiny", 1), ("large", 3_600_000)):
        d = tmp_path_factory.mktemp(f"events_ttl_{label}")
        pq.write_table(pa.Table.from_pandas(one, preserve_index=False),
                       str(d / "part-000.parquet"))
        rows: list = []
        q = _start_tws(
            spark,
            ttl_dedup_tws(
                events_stream(spark, str(d)),
                ["user_id", "event_type"],
                ttl_ms=ttl_ms,
            ),
            str(tmp_path / f"ckpt_ttl_{label}"),
            rows,
        )
        try:
            assert _tws_wait(q, lambda: len(rows) == 1), "first arrival"
            _time.sleep(0.6)  # >> 1 ms TTL, << 1 h TTL
            seen0 = _tws_inputs_seen(q)
            pq.write_table(
                pa.Table.from_pandas(one, preserve_index=False),
                str(d / "part-001.parquet"),
            )
            # wait until the duplicate file has actually been consumed
            assert _tws_wait(q, lambda: _tws_inputs_seen(q) > seen0), (
                "second arrival never processed"
            )
            if ttl_ms == 1:
                assert _tws_wait(q, lambda: len(rows) == 2), (
                    "expired marker must re-emit the key"
                )
            else:
                _tws_wait(q, lambda: False, timeout_s=2.0)  # settle
                assert len(rows) == 1, "live marker must keep suppressing"
        finally:
            q.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        results[label] = len(rows)
    assert results == {"tiny": 2, "large": 1}


def test_estimation_stream_matches_batch(spark, tmp_path, tmp_path_factory):
    import json

    from flink_estimator_spark.estimator import estimate_df, estimate_stream, scenario_schema
    from tests.scenarios import GOLDEN

    d = tmp_path_factory.mktemp("scenario_stream")
    # two micro-batch files of scenario records
    for i, chunk in enumerate((GOLDEN[:3], GOLDEN[3:])):
        with open(d / f"req-{i}.json", "w") as f:
            for kw in chunk:
                f.write(json.dumps(kw) + "\n")

    out = _run_stream(
        spark, estimate_stream(spark, str(d)), "est_stream_out", tmp_path
    )
    batch_in = spark.read.schema(scenario_schema).json(str(d))
    exp = estimate_df(batch_in)
    got_rows = {r["project_name"]: r.asDict(recursive=True) for r in out.collect()}
    exp_rows = {r["project_name"]: r.asDict(recursive=True) for r in exp.collect()}
    assert got_rows == exp_rows
    assert len(got_rows) == len(GOLDEN)


def test_multistage_windows_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming import multistage_agg

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, multistage_agg(ev), "multistage_out", tmp_path)
    got = {
        (r["win_start"], r["event_type"]): (
            r["n_events"], r["sum_value"], r["peak_minute_events"]
        )
        for r in out.collect()
    }
    exp = {
        (r["win_start"], r["event_type"]): (
            r["n_events"], r["sum_value"], r["peak_minute_events"]
        )
        for r in multistage_agg(_batch_events(spark)).collect()
    }
    # every real (non-sentinel) window must be emitted and identical
    missing = {k: v for k, v in exp.items() if k not in got}
    assert not missing, f"windows not emitted: {list(missing)[:5]}"
    for k, v in exp.items():
        assert got[k] == v, (k, got[k], v)


def test_left_outer_interval_join_stream_matches_batch(
    spark, stream_dir, tmp_path, tmp_path_factory
):
    from flink_estimator_spark.streaming import view_purchase_left_join

    # Private copy of the stream dir: outer-join null rows are emitted in the
    # micro-batch AFTER the watermark proves no match can arrive, so a second
    # far-future sentinel batch is appended mid-run to flush them.
    d = tmp_path_factory.mktemp("events_lojoin")
    # FileStreamSource orders micro-batches by file MODIFICATION time, and
    # shutil.copy can land all three copies in the same mtime tick — when
    # the +10d sentinel then randomly sorts first, the watermark jumps past
    # every real event and the stateful join drops them as late.  Pin
    # strictly ascending mtimes to make batch order deterministic.
    import time as _time

    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(stream_dir))):
        dst = os.path.join(str(d), f)
        shutil.copy(os.path.join(stream_dir, f), dst)
        os.utime(dst, (now + i, now + i))

    ev = events_stream(spark, str(d))
    q = (
        view_purchase_left_join(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lojoin_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_lojoin"))
        .start()
    )
    try:
        q.processAllAvailable()
        # The join watermark is the MIN across both sides; the shared view
        # sentinel only advances the view side, so the purchase side would
        # stay 2h behind the last real purchase and never expire it.  A
        # far-future *purchase* sentinel advances the other side.
        src = pq.read_table(os.path.join(str(d), "part-002-sentinel.parquet"))
        pdf = src.to_pandas()
        # same resolution trap as the stream_dir sentinel: keep the dtype
        pdf["ts"] = (pdf["ts"] + pd.Timedelta(days=10)).astype(pdf["ts"].dtype)
        pdf["event_id"] = 10**12 + 1
        pdf["event_type"] = "purchase"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(str(d), "part-003-sentinel2.parquet"))
        q.processAllAvailable()
        # Null-extended rows flush in a batch that runs AFTER the watermark
        # advance committed, and processAllAvailable does not wait for
        # Spark's asynchronous no-data batch — keep appending even-later
        # purchase sentinels (each one forces a DATA batch that evicts with
        # the previously committed watermark) until the outer rows appear.
        for attempt in range(4, 9):
            n_nulls = (
                spark.sql("SELECT * FROM lojoin_out")
                .filter(F.col("view_id").isNull()).count()
            )
            if n_nulls > 0:
                break
            pdf["ts"] = (pdf["ts"] + pd.Timedelta(days=1)).astype(pdf["ts"].dtype)
            pdf["event_id"] = 10**12 + attempt
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(str(d), f"part-00{attempt}-sentinel.parquet"),
            )
            q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM lojoin_out")
    got = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }
    exp = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in view_purchase_left_join(_batch_events(spark)).collect()
    }
    assert got == exp
    # the outer side actually fires: some purchase has no preceding view
    assert any(v is None for _, _, v in exp), "fixture lost its null-side rows"


def test_full_outer_interval_join_stream_matches_batch(
    spark, stream_dir, tmp_path, tmp_path_factory
):
    from flink_estimator_spark.streaming import view_purchase_full_join

    # Same harness as the left-outer test, but BOTH sides' null-padded rows
    # must flush: view-null rows need the view-side watermark to pass the
    # purchase, purchase-null rows need the purchase-side watermark to pass
    # the view — so the flush loop alternates view and purchase sentinels.
    d = tmp_path_factory.mktemp("events_fojoin")
    import time as _time

    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(stream_dir))):
        dst = os.path.join(str(d), f)
        shutil.copy(os.path.join(stream_dir, f), dst)
        os.utime(dst, (now + i, now + i))

    ev = events_stream(spark, str(d))
    q = (
        view_purchase_full_join(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("fojoin_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_fojoin"))
        .start()
    )
    exp = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in view_purchase_full_join(_batch_events(spark)).collect()
    }
    want_vnull = sum(1 for _, _, v in exp if v is None)
    want_pnull = sum(1 for _, p, _ in exp if p is None)
    try:
        q.processAllAvailable()
        src = pq.read_table(os.path.join(str(d), "part-002-sentinel.parquet"))
        pdf = src.to_pandas()
        for attempt in range(3, 15):
            out_now = spark.sql(
                "SELECT * FROM fojoin_out"
            ).filter(F.col("user_id") != SENTINEL_USER)
            n_vnull = out_now.filter(F.col("view_id").isNull()).count()
            n_pnull = out_now.filter(F.col("purchase_id").isNull()).count()
            if n_vnull >= want_vnull and n_pnull >= want_pnull:
                break
            pdf["ts"] = (pdf["ts"] + pd.Timedelta(days=1)).astype(pdf["ts"].dtype)
            pdf["event_id"] = 10**12 + attempt
            pdf["event_type"] = "purchase" if attempt % 2 else "view"
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(str(d), f"part-0{attempt:02d}-sentinel.parquet"),
            )
            q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM fojoin_out")
    got = {
        (r["user_id"], r["purchase_id"], r["view_id"])
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }
    assert got == exp
    # both outer directions actually fire in the fixture
    assert want_vnull, "no purchase-without-view rows"
    assert want_pnull, "no view-without-purchase rows"


def test_stream_static_join_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.sources.tables import read_table
    from flink_estimator_spark.streaming import enrich_with_customers

    cust = read_table(spark, os.path.join(SF_SMALL, "customer.parquet"))
    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, enrich_with_customers(ev, cust), "enrich_out", tmp_path
    )
    got = {
        (r["event_id"], r["customer_name"], r["segment"])
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }
    exp = {
        (r["event_id"], r["customer_name"], r["segment"])
        for r in enrich_with_customers(_batch_events(spark), cust).collect()
    }
    assert got == exp


def test_cumulate_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming import cumulate_agg

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, cumulate_agg(ev), "cumulate_out", tmp_path)
    # the sentinel row contributes real groups in its own far-future window;
    # both sides include it, so no filtering is needed — compare everything
    got = {
        (r["win_start"], r["win_end"]): (r["n"], r["sum_value"])
        for r in out.collect()
    }
    exp = {
        (r["win_start"], r["win_end"]): (r["n"], r["sum_value"])
        for r in cumulate_agg(_batch_events(spark)).collect()
    }
    assert got == exp
    # expanding partials really expand: a window's j=3 partial covers >= j=1
    starts = {ws for ws, _ in got}
    assert any(
        got.get((ws, ws + 1800), (0,))[0] > got.get((ws, ws + 600), (0,))[0]
        for ws in starts
    )


def test_window_join_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming import window_join

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, window_join(ev), "winjoin_out", tmp_path)
    got = {
        (r["win_start"], r["user_id"], r["view_id"], r["purchase_id"])
        for r in out.collect()
    }
    exp = {
        (r["win_start"], r["user_id"], r["view_id"], r["purchase_id"])
        for r in window_join(_batch_events(spark)).collect()
    }
    assert got == exp and len(exp) > 0


def test_window_topn_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming import window_topn_stream

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, window_topn_stream(ev), "wintopn_out", tmp_path)
    got = {
        (r["win_start"], r["user_id"], r["n"], r["sum_value"], r["rk"])
        for r in out.collect()
    }
    # batch shadow: same ranking (cents-exact sums, ties by user_id)
    batch = _batch_events(spark)
    from pyspark.sql import Window as W

    ws = (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("long")
    agg = (
        batch.groupBy(ws.alias("win_start"), "user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("win_start").orderBy(F.desc("sv"), "user_id")
    )
    exp_df = (
        agg.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("win_start", "user_id", "n", F.col("sv").cast("double").alias("sum_value"), "rk")
    )
    exp = {
        (r["win_start"], r["user_id"], r["n"], r["sum_value"], r["rk"])
        for r in exp_df.collect()
    }
    # the sentinel's own far-future window never expires (nothing later moves
    # the watermark past it) — exclude it from the expectation
    max_emitted = max(w for w, *_ in got) if got else 0
    exp = {t for t in exp if t[0] <= max_emitted}
    assert got == exp and len(got) > 0


def test_cumulate_degenerates_to_tumble_when_step_equals_size(spark):
    """CUMULATE(step == size) is definitionally TUMBLE — the explode adds
    exactly one sub-window per event and the partials are the full windows."""
    from flink_estimator_spark.streaming import cumulate_agg, tumble_agg

    batch = _batch_events(spark)
    cum = {
        (r["win_start"], r["n"], r["sum_value"])
        for r in cumulate_agg(batch, step_s=600, size_s=600).collect()
    }
    tum = {
        (r["win_start"], r["n"], r["sum_value"])
        for r in (
            batch.groupBy(
                F.window("ts", "10 minutes").start.cast("long").alias("win_start")
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
        ).collect()
    }
    assert cum == tum


def test_idempotent_sink_replay_writes_no_duplicates(spark, stream_dir, tmp_path):
    """foreachBatch exactly-once-on-files: a replayed micro-batch (same
    batch_id after a simulated restart) overwrites its own directory, so
    total output equals the source exactly once; batch_id surfaces as a
    partition column with one directory per micro-batch."""
    import os

    from flink_estimator_spark.streaming.sinks import (
        batch_writer,
        idempotent_parquet_sink,
    )

    ev = events_stream(spark, stream_dir)
    out = str(tmp_path / "sink_out")
    q = idempotent_parquet_sink(ev, out, str(tmp_path / "ckpt_sink")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    n_src = _batch_events(spark).count() + 1  # + sentinel
    back = spark.read.parquet(out)
    assert back.count() == n_src
    batch_dirs = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert len(batch_dirs) >= 2, "maxFilesPerTrigger=1 must yield >=2 batches"

    # simulated restart: re-run batch 0's write with the same batch_id.
    # Materialize first — on restart the engine re-supplies the batch rows;
    # a lazy self-read would race the overwrite of its own input files.
    lazy = spark.read.parquet(os.path.join(out, batch_dirs[0]))
    replay_df = spark.createDataFrame(lazy.collect(), lazy.schema)
    rows_before = back.count()
    batch_writer(out)(replay_df, int(batch_dirs[0].split("=")[1]))
    assert spark.read.parquet(out).count() == rows_before, "replay must not duplicate"

    # a NEW batch id appends (append semantics across batches still hold)
    batch_writer(out)(replay_df.limit(5), 9999)
    assert spark.read.parquet(out).count() == rows_before + 5


def test_rollup_maintenance_state_equals_full_recompute(spark, stream_dir, tmp_path):
    """Streaming incremental rollup: after the stream drains, the versioned
    state equals a from-scratch batch rollup of the same rows, and a
    replayed micro-batch (simulated restart) leaves the state byte-equal."""
    from flink_estimator_spark.operators.incremental import partial_rollup
    from flink_estimator_spark.streaming.sinks import rollup_maintenance_sink

    from flink_estimator_spark.sources.tables import read_table

    ev = events_stream(spark, stream_dir)
    state = str(tmp_path / "rollup_state")
    sink, current_state, upsert = rollup_maintenance_sink(
        ev, state, str(tmp_path / "ckpt_rollup")
    )
    q = sink.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_df, version = current_state(spark)
    assert version >= 1, "stream must have committed multiple versions"
    got = {tuple(r) for r in got_df.collect()}

    full_src = read_table(spark, stream_dir)  # all rows incl. sentinel
    exp = {tuple(r) for r in partial_rollup(full_src).collect()}
    assert got == exp, "incremental state diverged from full recompute"

    # explicit at-least-once replay: re-deliver a stale batch_id — the
    # version-pointer guard must skip the merge, leaving the state unchanged
    upsert(full_src.limit(7), 0)
    got2_df, v_after = current_state(spark)
    assert v_after == version, "stale batch must not advance the pointer"
    assert {tuple(r) for r in got2_df.collect()} == exp

    # restarting the stream on the SAME checkpoint replays nothing either
    q2 = sink.start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert current_state(spark)[1] == version
    assert {tuple(r) for r in current_state(spark)[0].collect()} == exp


def test_pii_scrub_stream_matches_batch(spark, stream_dir, tmp_path):
    """Stateless map operators (the PII scrub) apply to streams unchanged:
    the streamed scrub of the event props column equals the batch scrub of
    the same rows — no watermark, no state, pure per-row codegen."""
    from flink_estimator_spark.operators.cleaning import redact_pii

    def scrub(df):
        return df.select(
            "event_id",
            redact_pii(
                F.concat(F.col("props"), F.lit(" by "), F.col("user_id").cast("string"),
                         F.lit("@host.example.net"))
            ).alias("clean"),
        )

    from flink_estimator_spark.sources.tables import read_table

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, scrub(ev), "pii_out", tmp_path)
    got = {(r["event_id"], r["clean"]) for r in out.collect()}
    batch = read_table(spark, stream_dir)  # same rows incl. sentinel
    exp = {(r["event_id"], r["clean"]) for r in scrub(batch).collect()}
    assert got == exp
    assert all("@" not in c for _, c in got), "scrub must remove every address"


def test_observe_metrics_account_for_every_ingested_row(spark, stream_dir, tmp_path):
    """Per-micro-batch observedMetrics: summed `rows` equals the source row
    count exactly, event-time bounds are sane, and the null-id canary stays
    zero — observability without a second pass over the data."""
    from flink_estimator_spark.streaming.metrics import observed, with_ingest_metrics

    ev = with_ingest_metrics(events_stream(spark, stream_dir))
    q = (
        ev.writeStream.outputMode("append")
        .format("memory")
        .queryName("obs_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress]
    finally:
        q.stop()

    rows = observed(progress)
    assert rows, "no observedMetrics surfaced in progress"
    total = sum(m["rows"] for m in rows)
    n_src = _batch_events(spark).count() + 1  # + sentinel
    assert total == n_src
    assert all(m["null_ids"] == 0 for m in rows)
    assert all(
        m["min_ts_s"] <= m["max_ts_s"] for m in rows if m["rows"] > 0
    )


def test_tumble_distinct_users_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming approx-distinct per window vs the identical batch plan:
    HLL++ is deterministic for a given input set, so equality is exact."""
    from flink_estimator_spark.streaming import tumble_distinct_users

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark,
        tumble_distinct_users(ev, watermark="30 minutes"),
        "adist_out",
        tmp_path,
    )
    batch = tumble_distinct_users(_batch_events(spark))
    sentinel_wins = {
        r["win_start"]
        for r in tumble_distinct_users(
            _batch_events(spark).filter(F.col("user_id") == SENTINEL_USER)
        ).collect()
    }
    got = {
        (r["win_start"], r["approx_users"], r["n_events"])
        for r in out.collect()
        if r["win_start"] not in sentinel_wins
    }
    exp = {
        (r["win_start"], r["approx_users"], r["n_events"])
        for r in batch.collect()
        if r["win_start"] not in sentinel_wins
    }
    assert got == exp
    assert len(exp) > 3


def test_scd2_temporal_enrich_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming FOR SYSTEM_TIME AS OF: events enriched with the SCD2
    version valid at EVENT time.  The update log is the purchase stream
    (each purchase sets the user's 'value'); views between purchases must
    pick up the latest preceding purchase's value, events before a user's
    first purchase stay null — row-for-row equal to the batch shadow."""
    from flink_estimator_spark.operators.scd import scd2_from_log
    from flink_estimator_spark.streaming import enrich_with_scd2

    batch = _batch_events(spark)
    dim = scd2_from_log(
        batch.filter(F.col("event_type") == "purchase")
    ).cache()
    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, enrich_with_scd2(ev, dim), "scd2_enrich_out", tmp_path
    )
    got = {
        (r["event_id"], r["ts_us"], r["dim_value"])
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }
    exp = {
        (r["event_id"], r["ts_us"], r["dim_value"])
        for r in enrich_with_scd2(batch, dim).collect()
    }
    assert got == exp
    # the join is genuinely temporal: some enriched value differs from the
    # user's CURRENT version (i.e. an event matched a superseded version)
    current = {
        r["user_id"]: r["value"]
        for r in dim.filter(F.col("is_current")).collect()
    }
    assert any(
        v is not None and current.get(u) != v
        for (_, _, v), u in (
            ((r["event_id"], r["ts_us"], r["dim_value"]), r["user_id"])
            for r in out.collect()
            if r["user_id"] != SENTINEL_USER
        )
    )
    dim.unpersist()


def test_cms_grid_stream_matches_batch(spark, stream_dir, tmp_path):
    """The count-min grid is a pure groupBy-count, so the SAME operator
    (operators/sketches.cms_cells) runs unchanged as a streaming
    aggregation — and its state is CONSTANT (d x w cells, 2048 rows)
    whatever the stream length, the defining property of sketch
    maintenance on an unbounded stream.  Complete-mode grid equals the
    batch grid cell-for-cell."""
    from flink_estimator_spark.operators.sketches import cms_cells

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, cms_cells(ev, "user_id"), "cms_grid_out", tmp_path, mode="complete"
    )
    got = {(r["row_i"], r["bucket"]): r["c"] for r in out.collect()}
    # batch shadow over the SAME files (sentinel row included on both sides)
    batch_same = spark.read.parquet(stream_dir).withColumn(
        "user_id", F.col("user_id").cast("long")
    )
    exp = {
        (r["row_i"], r["bucket"]): r["c"]
        for r in cms_cells(batch_same, "user_id").collect()
    }
    assert got == exp
    from flink_estimator_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

    assert len(got) <= CMS_DEPTH * CMS_WIDTH


def test_count_window_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming countWindow(3): the CLOSED windows emitted across
    micro-batches must equal an independent per-user reimplementation of
    the batch semantics (sort by (ts, event_id), close every 3rd event) —
    with the micro-batch split cutting through open windows, so the state
    hand-off is genuinely exercised."""
    from flink_estimator_spark.streaming import count_window

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, count_window(ev), "count_window_out", tmp_path)
    got = {
        (r["user_id"], r["win_id"]): (
            r["n"], r["first_event"], r["last_event"], r["sum_value_u6"]
        )
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }

    pdf = (
        spark.read.parquet(stream_dir)
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    exp = {}
    for uid, grp in pdf.groupby("user_id"):
        if uid == SENTINEL_USER:
            continue
        rows = list(grp.itertuples())
        for w in range(len(rows) // 3):
            chunk = rows[w * 3 : w * 3 + 3]
            exp[(uid, w)] = (
                3,
                chunk[0].event_id,
                chunk[-1].event_id,
                sum(int(round(float(r.value) * 1_000_000)) for r in chunk),
            )
    assert got == exp
    assert got, "no closed windows — fixture too small to exercise the operator"


def test_running_anomaly_stream_matches_batch_query(spark, stream_dir, tmp_path):
    """Streaming 3-sigma detector == the gated batch query row-for-row:
    the micro-batch split cuts through user histories, so the (n, s, q)
    state hand-off is what keeps the expanding statistics identical."""
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.streaming.anomaly import running_anomalies

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, running_anomalies(ev), "anomaly_out", tmp_path)
    got = {
        (r["user_id"], r["event_id"], r["ts_us"], r["n_prior"])
        for r in out.collect()
        if r["user_id"] != SENTINEL_USER
    }
    exp = {
        (r["user_id"], r["event_id"], r["ts_us"], r["n_prior"])
        for r in QUERIES["q_running_anomaly"].builder(spark, SF_SMALL).collect()
    }
    assert got == exp
    assert exp, "fixture produced no anomalies — detector untested"


def test_ledger_screen_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming.dedup import screen_against_ledger

    batch = _batch_events(spark)
    ledger = batch.filter(F.col("event_id") % 3 == 0).select("event_id")

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark,
        screen_against_ledger(ev, ledger).select("event_id"),
        "ledger_screen_out",
        tmp_path,
    )
    got = {
        r["event_id"]
        for r in out.collect()
        if r["event_id"] % 10**9 != SENTINEL_USER  # sentinel rows pass through
    }
    # batch shadow: the same operator on the batch frame, and the plain
    # exact anti join — all three must agree (bloom adds no false negatives,
    # the anti join removes its false positives)
    shadow = {
        r["event_id"]
        for r in screen_against_ledger(batch, ledger).select("event_id").collect()
    }
    exact = {
        r["event_id"]
        for r in batch.join(ledger, "event_id", "left_anti").select("event_id").collect()
    }
    assert shadow == exact
    assert got >= exact  # stream adds sentinel rows only
    assert {e for e in got if e in {r["event_id"] for r in ledger.collect()}} == set()


def test_time_weighted_totals_stream_matches_batch(spark, stream_dir, tmp_path):
    from flink_estimator_spark.streaming.twa import time_weighted_totals

    ev = events_stream(spark, stream_dir)
    out = _run_stream(
        spark, time_weighted_totals(ev), "twa_out", tmp_path, mode="update"
    )
    # memory sink in update mode appends every emission; keep the LAST per
    # user (largest n_segments == the prefix over all batches)
    latest = {}
    for r in out.collect():
        if r["user_id"] == SENTINEL_USER:
            continue
        prev = latest.get(r["user_id"])
        if prev is None or r["n_segments"] >= prev[0]:
            latest[r["user_id"]] = (r["n_segments"], r["span_us"], r["num_cents_us"])

    # batch shadow: recompute the exact integer (n, span, numerator)
    # triple the batch query derives its double from
    from flink_estimator_spark.sources.tables import read_table
    import os as _os
    e = read_table(spark, _os.path.join(SF_SMALL, "events.parquet"))
    from pyspark.sql import Window as _W
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    agg = s.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("nxt_us") - F.col("t_us")).alias("span"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * (F.col("nxt_us") - F.col("t_us")).cast("decimal(38,0)")
        ).cast("bigint").alias("num"),
    )
    exp = {
        r["user_id"]: (r["n"], r["span"], r["num"]) for r in agg.collect()
    }
    assert latest == exp


def test_watermark_drops_late_rows_with_metrics(spark, tmp_path):
    """Late-data contract: rows arriving after the watermark has passed
    their window are DROPPED by a streaming aggregate (append mode), and
    the engine accounts for them in numRowsDroppedByWatermark — the
    operational signal a production pipeline alarms on."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    import time as _time

    src_tbl = _pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    pdf = src_tbl.to_pandas().sort_values("ts").reset_index(drop=True)
    early = pdf.iloc[: len(pdf) // 2]
    late = early.iloc[:50].copy()  # replay of already-closed windows
    late["event_id"] = late["event_id"] + 10**10
    sentinel = pdf.iloc[[-1]].copy()
    sentinel["ts"] = (sentinel["ts"] + pd.Timedelta(days=10)).astype(pdf["ts"].dtype)
    sentinel["event_id"] = 2 * 10**12
    sentinel["user_id"] = SENTINEL_USER

    d = tmp_path / "late_stream"
    d.mkdir()
    for i, part in enumerate((early, sentinel, late)):
        p = str(d / f"part-{i:03d}.parquet")
        _pq.write_table(_pa.Table.from_pandas(part, preserve_index=False), p)
    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(str(d)))):
        os.utime(str(d / f), (now + i, now + i))

    from flink_estimator_spark.streaming import tumble_agg

    ev = events_stream(spark, str(d))
    q = (
        tumble_agg(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for prog in q.recentProgress
            for op in prog.get("stateOperators", [])
        )
    finally:
        q.stop()
    assert dropped >= len(late), (
        f"late replay rows must be dropped by the watermark (got {dropped})"
    )


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming dual of q_incremental_dedup (r3 verdict item 7): the
    arriving crawl is a document STREAM screened against the standing
    corpus; every emitted row must match the batch screen on the same
    docs."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    import time as _time

    from flink_estimator_spark.streaming import (
        documents_stream,
        screen_docs_against_corpus,
    )
    from flink_estimator_spark.sources.tables import read_table

    docs = read_table(spark, os.path.join(SF_SMALL, "documents.parquet"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch_pdf = (
        docs.filter(F.col("doc_id") % 10 == 0).toPandas().sort_values("doc_id")
    )
    # the arriving batch lands as two micro-batch files
    d = tmp_path / "docs_stream"
    d.mkdir()
    half = len(batch_pdf) // 2
    for i, part in enumerate((batch_pdf.iloc[:half], batch_pdf.iloc[half:])):
        _pq.write_table(
            _pa.Table.from_pandas(part, preserve_index=False),
            str(d / f"part-{i:03d}.parquet"),
        )
    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(str(d)))):
        os.utime(str(d / f), (now + i, now + i))

    stream = documents_stream(spark, str(d))
    out = _run_stream(
        spark, screen_docs_against_corpus(stream, corpus), "incdedup_out", tmp_path
    )
    got = sorted(tuple(r) for r in out.collect())
    exp_df = screen_docs_against_corpus(
        docs.filter(F.col("doc_id") % 10 == 0), corpus
    )
    exp = sorted(tuple(r) for r in exp_df.collect())
    assert got == exp
    # and the batch shadow itself must agree with the registered query
    from flink_estimator_spark.plans.registry import QUERIES

    reg = sorted(
        tuple(r) for r in QUERIES["q_incremental_dedup"].builder(spark, SF_SMALL).collect()
    )
    assert exp == reg


def test_windowed_cms_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming dual of the CMS family (r3 verdict item 7): per-tumbling-
    window count-min grids emitted on window close must equal a batch
    rebuild of the same md5 grid, window by window — proving the emitted
    cells are the correct mergeable state."""
    from flink_estimator_spark.streaming import windowed_cms_cells

    ev = events_stream(spark, stream_dir)
    out = _run_stream(spark, windowed_cms_cells(ev), "cms_win_out", tmp_path)
    got = {
        (r["win_start"], r["row_i"], r["bucket"]): r["c"] for r in out.collect()
    }

    from flink_estimator_spark.operators.sketches import CMS_DEPTH, cms_bucket

    batch = _batch_events(spark)
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("row_i")
    exp_df = (
        batch.select("ts", "user_id", rows)
        .withColumn("bucket", cms_bucket(F.col("user_id"), F.col("row_i")))
        .groupBy(
            F.window("ts", "10 minutes").start.cast("long").alias("win_start"),
            "row_i",
            "bucket",
        )
        .agg(F.count("*").alias("c"))
    )
    exp = {
        (r["win_start"], r["row_i"], r["bucket"]): r["c"] for r in exp_df.collect()
    }
    missing = {k: v for k, v in exp.items() if k not in got}
    assert not missing, f"cells not emitted: {list(missing)[:5]}"
    for k, v in exp.items():
        assert got[k] == v, (k, got[k], v)
    # cell-wise addition across windows == the global grid (mergeability)
    from collections import defaultdict

    merged = defaultdict(int)
    for (_, row_i, bucket), c in exp.items():
        merged[(row_i, bucket)] += c
    global_df = (
        batch.select("user_id", rows)
        .withColumn("bucket", cms_bucket(F.col("user_id"), F.col("row_i")))
        .groupBy("row_i", "bucket")
        .agg(F.count("*").alias("c"))
    )
    global_grid = {(r["row_i"], r["bucket"]): r["c"] for r in global_df.collect()}
    assert dict(merged) == global_grid


def test_semdedup_screen_stream_matches_batch(spark, tmp_path):
    """Streaming SemDeDup ingest screen: arriving embeddings flagged
    against the standing corpus (cluster-bounded cosine check) must match
    the batch run row-for-row, and the batch run must agree with an
    independent brute-force within-cluster formulation."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    import time as _time

    from flink_estimator_spark.streaming import (
        documents_stream,
        screen_embeddings_against_corpus,
    )
    from flink_estimator_spark.sources.tables import read_table

    emb = read_table(spark, os.path.join(SF_SMALL, "embeddings.parquet"))
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    arriving = emb.filter(F.col("vec_id") % 10 == 0)
    pdf = arriving.toPandas().sort_values("vec_id")
    d = tmp_path / "emb_stream"
    d.mkdir()
    half = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        _pq.write_table(_pa.Table.from_pandas(part, preserve_index=False),
                        str(d / f"part-{i:03d}.parquet"))
    now = _time.time()
    for i, f in enumerate(sorted(os.listdir(str(d)))):
        os.utime(str(d / f), (now + i, now + i))

    stream = documents_stream(spark, str(d))  # schema-agnostic parquet stream
    out = _run_stream(
        spark, screen_embeddings_against_corpus(stream, corpus),
        "semdedup_screen_out", tmp_path,
    )
    got = sorted(tuple(r) for r in out.collect())
    exp = sorted(
        tuple(r) for r in screen_embeddings_against_corpus(arriving, corpus).collect()
    )
    assert got == exp

    # independent brute-force check: assigned cluster via the batch window
    # argmin + ANY in-cluster cosine >= tau, formulated with a groupBy
    from flink_estimator_spark.operators.similarity import cosine_pre, norm
    from flink_estimator_spark.streaming.curation import _quantized_d2
    from flink_estimator_spark.operators.similarity import label_centroids

    cent_rows = sorted(
        (r["clabel"], r["pos"], r["c"]) for r in label_centroids(corpus).collect()
    )
    k = max(c for c, _, _ in cent_rows) + 1
    dim = max(p for _, p, _ in cent_rows) + 1
    codebook = {cid: [0.0] * dim for cid in range(k)}
    for cid, pos, c in cent_rows:
        codebook[cid][pos] = c

    def assign(df):
        choices = F.array(*[
            F.struct(_quantized_d2(F.col("embedding"), codebook[cid]).alias("d2"),
                     F.lit(cid).alias("cid"))
            for cid in range(k)
        ])
        return df.withColumn("cluster", F.array_min(choices)["cid"])

    a = assign(arriving).select(
        F.col("vec_id").alias("a_id"), F.col("cluster").alias("a_cl"),
        F.col("embedding").alias("a_vec"), norm(F.col("embedding")).alias("a_nrm"))
    m = assign(corpus).select(
        F.col("vec_id").alias("m_id"), F.col("cluster").alias("m_cl"),
        F.col("embedding").alias("m_vec"), norm(F.col("embedding")).alias("m_nrm"))
    brute = (
        a.join(m, (F.col("a_cl") == F.col("m_cl")) & (F.col("a_id") != F.col("m_id")), "left")
        .withColumn("cos", cosine_pre(F.col("a_vec"), F.col("m_vec"),
                                      F.col("a_nrm"), F.col("m_nrm")))
        .groupBy("a_id", "a_cl")
        .agg(F.max(F.when(F.col("cos") >= 0.40, 1).otherwise(0)).alias("dup"))
    )
    brute_map = {r["a_id"]: bool(r["dup"]) for r in brute.collect()}
    got_map = {r[0]: r[2] for r in out.collect()}
    assert got_map == brute_map


def test_window_topn_tws_matches_legacy_stream(spark, stream_dir, tmp_path):
    """The typed-state window top-N run as a REAL stream must emit exactly
    what the legacy applyInPandasWithState operator emits over the same
    staged stream (decided windows fire by timer in both) — the
    runtime-level differential between the two stateful APIs."""
    from flink_estimator_spark.streaming.stateful import (
        ensure_typed_state_runtime,
        window_topn_tws,
    )
    from flink_estimator_spark.streaming.topn import window_topn

    if not ensure_typed_state_runtime(spark):
        pytest.skip("no protobuf runtime locatable on this machine")

    def run(op, name):
        ev = events_stream(spark, stream_dir)
        out = _run_stream(
            spark,
            op(ev, watermark="30 minutes", window_s=600, top_k=3)
            if op is window_topn_tws
            else op(ev, watermark="30 minutes", window_s=600, top_k=3),
            name,
            tmp_path,
            mode="append",
        )
        return {
            (r["win_start"], r["user_id"], r["n"], r["sum_value"], int(r["rk"]))
            for r in out.collect()
        }

    got_tws = run(window_topn_tws, "tws_topn_out")
    got_legacy = run(window_topn, "legacy_topn_out")
    assert got_tws, "no windows fired — vacuous runtime differential"
    assert got_tws == got_legacy


def test_lsh_banded_signatures_match_batch_aggregate(spark):
    """The streaming per-row HOF MinHash (streaming/dedup.py
    lsh_banded_signatures) must produce bit-identical signatures and band
    keys to the batch explode->groupBy-min portable pipeline
    (operators/dedup.py minhash_signatures + lsh_candidate_pairs band
    construction) — min over the in-row gram multiset equals min over the
    batch path's DISTINCT shingle set.  Runs both as BATCH frames (the
    streaming operator is source-agnostic column algebra)."""
    from flink_estimator_spark.operators.dedup import (
        md5_word,
        minhash_signatures,
        shingle_df,
    )
    from flink_estimator_spark.sources.tables import read_table
    from flink_estimator_spark.streaming.dedup import lsh_banded_signatures

    docs = read_table(spark, os.path.join(SF_SMALL, "documents.parquet")).select(
        "doc_id", F.timestamp_seconds(F.col("doc_id") * 60).alias("ts"), "text"
    )
    num_hashes, bands, rows_per_band = 16, 4, 4

    got = {
        (r["doc_id"], r["band"]): (r["key"], tuple(r["sig"]))
        for r in lsh_banded_signatures(
            docs, num_hashes=num_hashes, bands=bands
        ).collect()
    }

    sig = minhash_signatures(
        shingle_df(docs, portable=True), num_hashes=num_hashes, portable=True
    )
    for b in range(bands):
        sig = sig.withColumn(
            f"key{b}",
            md5_word(
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
                1,
                15,
            ),
        )
    want = {}
    for r in sig.collect():
        hs = tuple(r[f"h{i}"] for i in range(num_hashes))
        for b in range(bands):
            want[(r["doc_id"], b)] = (r[f"key{b}"], hs)

    assert set(got) == set(want)
    mismatched = [k for k in got if got[k] != want[k]]
    assert not mismatched, mismatched[:5]


# One gate per mode of the shared stream runner: single pass (symlink
# staging, availableNow), checkpoint restart (two staged phases), and
# ProcessingTime polling (until_rows).
RUNNER_MODES = [
    "q_stream_dedup_runtime",
    "q_stream_restart_runtime",
    "q_stream_tws_ttl_runtime",
]


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "build_raises"])
@pytest.mark.parametrize("name", RUNNER_MODES)
def test_stream_runner_cleans_up(spark, monkeypatch, name, fail):
    """After a gate's builder returns — or its stream builder raises — the
    runner leaves no ``stream_runtime_*`` checkpoint, source or staging
    dir under the checkpoint root, and ``spark.sql.shuffle.partitions``
    is back to what the caller had."""
    from flink_estimator_spark.plans import streaming_runtime as sr
    from flink_estimator_spark.plans.registry import QUERIES
    from flink_estimator_spark.session import checkpoint_root

    def leftovers():
        root = checkpoint_root()
        if not os.path.isdir(root):
            return set()
        return {e for e in os.listdir(root) if e.startswith("stream_runtime_")}

    if fail:
        real = sr._run_stream

        def failing(spark_, sf_dir, build, *args, **kwargs):
            def boom(make):
                build(make)
                raise RuntimeError("planted build failure")

            return real(spark_, sf_dir, boom, *args, **kwargs)

        monkeypatch.setattr(sr, "_run_stream", failing)
    before = leftovers()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        if fail:
            with pytest.raises(RuntimeError, match="planted build failure"):
                QUERIES[name].builder(spark, SF_SMALL)
        else:
            assert QUERIES[name].builder(spark, SF_SMALL).count() > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert leftovers() - before == set()
