"""Spans and counters for the traced run.

Spans are recorded from this directory's own code, around the calls into
each layer of ``flink_estimator_spark``.  Every span runs under a Spark job
group named after it, so the counters Spark writes to its own event log
(jobs, stages, task metrics, AQE-final plans, SQL metrics of the Python
nodes, and the StreamingQueryListener progress events) can be charged to the
span that caused them once the session has stopped and the log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import time
from collections import defaultdict
from datetime import datetime

# physical-plan node names of the Python/Arrow evaluation operators
# (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas[WithState],
# TransformWithStateInPandas, PythonMapInArrow, ...)
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
PYTHON_ROWS = "number of output rows"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
SCAN_BYTES = "size of files read"  # driver-side metric of the file scan nodes

STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

BUILDER = "plans.builder"


def files(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _dirs, names in os.walk(root):
        for f in names:
            path = os.path.join(d, f)
            try:
                out[path] = os.path.getsize(path)
            except OSError:  # deleted by the cleaner while walking
                pass
    return out


class Tracer:
    """Records spans in memory; each span is also the job group of the
    Spark jobs it launches.  Spans nest: the inner span's group is active
    until it ends, then the outer one is restored."""

    def __init__(self, sc, checkpoint_dir: str):
        self.sc = sc
        self.checkpoint_dir = checkpoint_dir
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, layer: str, op: int, name: str):
        gid = f"{layer}|{op}|{name}"
        parent = self._stack[-1] if self._stack else None
        # a builder's materialize()/eager_checkpoint files: those new in the
        # checkpoint dir when it returns (the cleaner may delete them later)
        before = files(self.checkpoint_dir) if layer == BUILDER else None
        self._stack.append(gid)
        self.sc.setJobGroup(gid, gid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            span = {"group": gid, "layer": layer, "op": op, "name": name,
                    "start": t0, "end": t1, "parent": parent}
            if before is not None:
                span["materialized_bytes"] = sum(
                    size for path, size in files(self.checkpoint_dir).items()
                    if path not in before)
            self.spans.append(span)

    def current_op(self) -> tuple[int, str] | None:
        if not self._stack:
            return None
        _, op, name = self._stack[0].split("|", 2)
        return int(op), name


class NoTracer:
    """The untraced run: same interface, no job groups, no spans."""

    def span(self, layer, op, name):
        return contextlib.nullcontext()


def trace_read_table(tracer: Tracer) -> None:
    """Wrap ``sources.read_table`` in a span wherever the package bound it,
    so the reads a builder makes are timed and their schema jobs counted."""
    from flink_estimator_spark.sources import tables

    orig = tables.read_table

    def read_table(spark, path):
        cur = tracer.current_op()
        op, name = cur if cur else (-1, "setup")
        with tracer.span("sources.read_table", op, name):
            return orig(spark, path)

    for mod_name, mod in list(sys.modules.items()):
        if (mod_name.startswith("flink_estimator_spark")
                and getattr(mod, "read_table", None) is orig):
            setattr(mod, "read_table", read_table)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


class EventLog:
    """Counters per job group, read from one application's event log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                 if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        # rolling logs are eventlog_v2_<app>/events_<n>_<app>; order by n
        files.sort(key=lambda p: [int(t) if t.isdigit() else t
                                  for t in re.split(r"(\d+)", os.path.basename(p))])
        self.job_group: dict[int, str | None] = {}
        self.job_submit: dict[int, float] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_done: set[int] = set()
        self.task_totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.exec_plan: dict[int, dict] = {}
        self.accum: dict[int, float] = defaultdict(float)
        self.progress: list[dict] = []
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[jid] = props.get("spark.jobGroup.id")
            self.job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
            if props.get("spark.sql.execution.id") is not None:
                self.job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in ev.get("Stage IDs", ()):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            self.stage_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            t = self.task_totals[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            t["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                # SQL metric updates are logged as strings
                try:
                    self.accum[acc["ID"]] += float(acc.get("Update"))
                except (TypeError, ValueError):
                    pass
        elif kind in (SQL_START, SQL_AQE_UPDATE):
            # the last update holds the AQE-final plan
            self.exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == SQL_DRIVER_ACCUM:
            for acc_id, value in ev.get("accumUpdates", ()):
                self.accum[acc_id] += value
        elif kind == STREAM_PROGRESS:
            self.progress.append(ev["progress"])

    def attribute(self, spans: list[dict]) -> dict[int, str]:
        """Job id -> span group.  A job launched under one of our groups
        keeps it; any other job (a streaming query runs its micro-batches
        under its own run id) goes to the innermost span open when it was
        submitted."""
        known = {s["group"] for s in spans}
        out: dict[int, str] = {}
        for jid, group in self.job_group.items():
            if group in known:
                out[jid] = group
                continue
            t = self.job_submit[jid]
            inner = [s for s in spans if s["start"] <= t <= s["end"]]
            if inner:
                out[jid] = max(inner, key=lambda s: s["start"])["group"]
        return out

    def group_counters(self, spans: list[dict]) -> dict[str, dict[str, float]]:
        job_to_group = self.attribute(spans)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for jid, group in job_to_group.items():
            out[group]["jobs"] += 1
        for sid in self.stage_done:
            group = job_to_group.get(self.stage_job.get(sid))
            if group is None:
                continue
            out[group]["stages"] += 1
            for k, v in self.task_totals.get(sid, {}).items():
                out[group][k] += v
        exec_group = {}
        for jid, eid in self.job_exec.items():
            if jid in job_to_group:
                exec_group.setdefault(eid, job_to_group[jid])
        for eid, group in exec_group.items():
            plan = self.exec_plan.get(eid)
            if plan is None:
                continue
            for node in _walk(plan):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    out[group]["exchanges"] += 1
                elif name == "BroadcastExchange":
                    out[group]["broadcasts"] += 1
                elif name.startswith("Scan"):
                    for metric in node.get("metrics", ()):
                        if metric["name"] == SCAN_BYTES:
                            out[group]["scan_bytes"] += self.accum.get(metric["accumulatorId"], 0)
                elif PYTHON_NODE.search(name):
                    out[group]["python_nodes"] += 1
                    for metric in node.get("metrics", ()):
                        value = self.accum.get(metric["accumulatorId"], 0)
                        if metric["name"] == PYTHON_ROWS:
                            out[group]["python_rows"] += value
                        elif metric["name"] in PYTHON_BYTES:
                            out[group]["python_bytes"] += value
        return out

    def stream_counters(self, spans: list[dict]) -> dict[int, dict[str, float]]:
        """Micro-batch progress per op, charged by trigger start time to the
        op span that was open."""
        ops = [s for s in spans if s["layer"] == "op"]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        last_state: dict[tuple[int, str], list] = {}
        for p in self.progress:
            t = _epoch(p["timestamp"])
            owner = [s for s in ops if s["start"] <= t <= s["end"]]
            if not owner:
                continue
            op = owner[0]["op"]
            d = p.get("durationMs") or {}
            c = out[op]
            c["batches"] += 1
            c["input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources", ()))
            c["trigger_ms"] += d.get("triggerExecution", 0)
            c["add_batch_ms"] += d.get("addBatch", 0)
            c["planning_ms"] += d.get("queryPlanning", 0)
            c["wal_commit_ms"] += d.get("walCommit", 0)
            states = p.get("stateOperators") or []
            c["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in states)
            last_state[(op, p["runId"])] = states
        for (op, _run), states in last_state.items():
            out[op]["state_rows"] += sum(s.get("numRowsTotal", 0) for s in states)
            out[op]["state_mem_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in states)
        return out
