"""Benchmark of the flink_estimator_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload plane_b --seed 1 --seconds 10 --trace 0

Workloads (``ops.WORKLOADS``): ``plane_b`` runs fixed samples of the
registered query families (``batch_sql``, ``llm_ops`` and ``stream_gates``,
partitioned by tag), and ``plane_a`` is the estimator over seeded scenario
rows.  Every op is one closed-loop call from a single client on
``local[N]``, N = the CPUs this process may use, timed as the builder call
plus a noop-sink write of the result.

A run starts the session SETUP_ROUNDS times and opens the fixture tables
each time, then makes one untimed pass over the op list that checks every
op's output, and WARM_PASSES more untimed passes.  ``setup_s`` is the
median start plus those passes.  Only the first start launches the JVM;
the later ones stop and restart the SparkContext in the same JVM, so the
median is a warm restart.  The cold first start is reported on its own as
``session.cold_start_s``.  The run then makes whole timed passes, each in
a seed-shuffled order, until ``--seconds`` have elapsed.  ``wall_s`` is a
pass of each op's median time.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the timed
passes in a session with the event log on, with spans and job groups around
each layer call, and prints the per-layer metrics plus the tracing overhead.
The last line of stdout is one JSON object; lines before it starting with
``#`` are the human-readable report.  Spans and per-op counters of a traced
run are written to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
OUT_DIR = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
# untimed passes after the check pass.  The JVM keeps compiling for about
# four passes: pass time falls ~25% from the check pass to the fourth and
# then holds within ~10%, so the timed passes start at the fourth.  With one
# warm pass the ten-seed spread of wall_s was 0.20-0.30, with two 0.13-0.20.
WARM_PASSES = 2
APP_NAME = "perfbench"

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from ops import (ACTION_LAYERS, PLANE_A, WORKLOADS, PlaneAOps, QueryOps,  # noqa: E402
                 family, noop)
from spans import BUILDER, EventLog, NoTracer, Tracer, trace_read_table  # noqa: E402


def fit_box() -> dict:
    """Size the session to this machine before the JVM starts: local[N]
    with N = usable CPUs, and a driver heap of 30% of RAM (1-8 GiB),
    allocated in full at launch, so that heap growth is not part of what
    the run times (ten-seed spread of setup_s: 0.17-0.21 with a growing
    heap, 0.10-0.15 fixed)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kib = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    driver_gib = max(1, min(8, int(mem_kib / 2**20 * 0.3)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gib}g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {driver_gib}g --driver-java-options -Xms{driver_gib}g pyspark-shell")
    # Python workers import the package (UDFs pickle by module path)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    with open("/proc/loadavg", encoding="ascii") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"cpus": cpus, "ram_gib": round(mem_kib / 2**20, 1),
            "driver_mem": f"{driver_gib}g", "loadavg_start": load}


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__}


def process_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, RSS in KiB) of every process, read from /proc."""
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("PPid:"):
                        parent[int(pid)] = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        rss[int(pid)] = int(line.split()[1])
        except OSError:
            continue
    return parent, rss


def descendants(root: int, parent: dict[int, int]) -> list[int]:
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p and p != root:
            p = parent.get(p)
        if p == root:
            out.append(pid)
    return out


def become_subreaper() -> None:
    """Make processes orphaned under this one (Python workers whose JVM has
    exited) its children, so ``stop_jvm`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_jvm(grace: float = 30.0) -> None:
    """Stop the driver JVM and every process under this one, and wait until
    each has ended.  On Unix PySpark leaves the JVM to exit when it reads EOF
    on its stdin, which happens only after Python has exited, so without this
    the JVM and its Python workers outlive the run."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children left, running or unreaped
            return
        if time.monotonic() >= deadline:
            for pid in descendants(os.getpid(), process_table()[0]):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + grace
        time.sleep(0.1)


def forget_udf_handles() -> None:
    """A module-level UDF keeps the JVM function it built on first use, and
    with it the Python accumulator of the SparkContext of that time.  After
    a restart that accumulator's server is gone and every task logs a failed
    update, so the handles are dropped and rebuilt in the new context."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if name.split(".")[0] != "flink_estimator_spark":
            continue
        for v in vars(mod).values():
            udf = getattr(v, "_unwrapped", None)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, every: float = 0.25):
        self.every = every
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kib / 1024

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, self._sample(me))
            self._stop.wait(self.every)

    @staticmethod
    def _sample(root: int) -> int:
        parent, rss = process_table()
        return sum(rss.get(pid, 0) for pid in descendants(root, parent))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile).  Below 20 samples that would fall under the
    median, so (median, 50.0) is returned instead."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def op_medians(records: list[dict]) -> list[float]:
    """Each op's median time over the timed passes.  ``wall_s`` is their
    sum, a pass of typical ops, and ``op_p50_s`` their median: the ops are
    distinct queries with distinct typical times, so the median of all
    samples would fall in the gap between two of them and follow the
    slowest sample of one and the fastest of the other."""
    by_name: dict[str, list[float]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r["s"])
    return [statistics.median(v) for v in by_name.values()]


class Bench:
    def __init__(self, args, box: dict):
        self.args = args
        self.box = box
        self.workload = args.workload
        self.rng = random.Random(args.seed)
        self.tmp = os.path.join(OUT_DIR, f"run-{os.getpid()}")
        self.ckpt_dir = os.path.join(self.tmp, "checkpoints")
        self.spark = None
        self.ops = None
        self.get_spark_s: list[float] = []
        self.families: dict[str, tuple[int, list[str]]] = {}
        with open(EXPECTED, encoding="utf-8") as fh:
            self.expected = json.load(fh)

    # -- session ---------------------------------------------------------
    def start_session(self, conf: dict | None = None) -> None:
        from flink_estimator_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=APP_NAME, extra_conf=conf)
        self.get_spark_s.append(time.perf_counter() - t0)
        forget_udf_handles()
        # per-run checkpoint dir: materialize()/eager_checkpoint files land
        # here and are deleted with the run
        self.spark.sparkContext.setCheckpointDir(self.ckpt_dir)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warm_fixture(self) -> None:
        """Open the fixture tables (or build the scenario rows)."""
        if self.workload == PLANE_A:
            self.ops = PlaneAOps(self.spark, self.args.seed, self.box["cpus"],
                                 os.path.join(self.tmp, "persist"))
            return
        from flink_estimator_spark.sources.tables import TABLES, read_table

        for t in TABLES:
            read_table(self.spark, os.path.join(SF_DIR, f"{t}.parquet"))
        expected = {n: d for fam in WORKLOADS[self.workload] for n, d in self.expected[fam].items()}
        self.ops = QueryOps(self.spark, SF_DIR, self.names, expected)

    # -- workload ---------------------------------------------------------
    def resolve(self) -> list[str]:
        """The op list; each query must be in the family it is listed under."""
        if self.workload == PLANE_A:
            return list(PlaneAOps.names)
        names = []
        for fam in WORKLOADS[self.workload]:
            members = set(family(fam))
            sample = sorted(self.expected[fam])
            stray = [n for n in sample if n not in members]
            if stray:
                raise SystemExit(f"perfbench: {stray} are not in the {fam} family")
            self.families[fam] = (len(members), sample)
            names += sample
        return names

    def warm_pass(self) -> None:
        for name in self.rng.sample(self.names, len(self.names)):
            try:
                self.ops.run(NoTracer(), -1, name)
            except Exception:  # counted when the timed passes run it
                traceback.print_exc()

    def timed_passes(self, tracer, passes: int | None = None):
        """Whole passes in seed-shuffled order, until --seconds have elapsed
        (or exactly ``passes``).  Returns (records, passes)."""
        records = []
        done = 0
        t_start = time.perf_counter()
        while True:
            for name in self.rng.sample(self.names, len(self.names)):
                i = len(records)
                t0 = time.perf_counter()
                try:
                    self.ops.run(tracer, i, name)
                    ok = True
                except Exception:  # a failing op is counted, not fatal
                    traceback.print_exc()
                    ok = False
                records.append({"op": i, "name": name, "s": time.perf_counter() - t0, "ok": ok})
            done += 1
            elapsed = time.perf_counter() - t_start
            if (passes is None and elapsed >= self.args.seconds) or done == passes:
                return records, done

    def run(self) -> dict:
        self.names = self.resolve()
        rss = RssSampler()
        round_s = []
        for r in range(SETUP_ROUNDS):
            self.stop_session()
            t0 = time.perf_counter()
            self.start_session()
            if r == 0:
                rss.start()
            self.warm_fixture()
            round_s.append(time.perf_counter() - t0)

        # untimed pass that checks every op's output, then the warm passes
        t0 = time.perf_counter()
        mismatched = {}
        for name in self.rng.sample(self.names, len(self.names)):
            try:
                err = self.ops.check(name)
            except Exception as exc:  # reported as a wrong output
                traceback.print_exc()
                err = f"{name}: raised {exc!r}"
            if err:
                mismatched[name] = err
        for _ in range(WARM_PASSES):
            self.warm_pass()
        warm_s = time.perf_counter() - t0

        records, passes = self.timed_passes(NoTracer())
        peak_rss_mb = rss.stop()
        for rec in records:
            if rec["name"] in mismatched:
                rec["ok"] = False
        out = {
            "records": records, "passes": passes, "mismatched": mismatched,
            "setup_s": statistics.median(round_s) + warm_s,
            "setup_rounds_s": round_s, "warm_s": warm_s,
            "wall_s": sum(op_medians(records)), "peak_rss_mb": peak_rss_mb,
            "items": self.ops.items if self.workload == PLANE_A else {},
        }
        if self.args.trace:
            out["trace"] = self.traced(passes)
        return out

    # -- traced run -------------------------------------------------------
    def traced(self, passes: int) -> dict:
        log_dir = os.path.join(self.tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        self.stop_session()
        self.start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
        self.warm_fixture()
        self.warm_pass()  # the fresh context, untraced
        tracer = Tracer(self.spark.sparkContext, self.ckpt_dir)
        trace_read_table(tracer)
        records, _ = self.timed_passes(tracer, passes)
        extra = {}
        if self.workload == PLANE_A:
            extra = self.estimator_layers()
        self.stop_session()
        log = EventLog(log_dir)
        return {"records": records, "spans": tracer.spans, "wall_s": sum(op_medians(records)),
                "estimator": extra,
                "groups": log.group_counters(tracer.spans),
                "streams": log.stream_counters(tracer.spans)}

    def estimator_layers(self) -> dict:
        """Plane A below the DataFrame API: the scalar kernel on one core,
        and the Catalyst part of estimate_df without the UDF."""
        from flink_estimator_spark.estimator import Scenario, normalize, validate
        from flink_estimator_spark.estimator.calculus import (
            normalize_scenario, sizing_core, validate_scenario)

        cases = self.ops.cases[:500]
        t0 = time.perf_counter()
        for kw in cases:
            s = Scenario(**kw)
            if not validate_scenario(s):
                sizing_core(normalize_scenario(s))
        kernel_eps = len(cases) / (time.perf_counter() - t0)
        catalyst = []
        for _ in range(3):
            t0 = time.perf_counter()
            noop(validate(normalize(self.ops.inputs["estimate"])))
            catalyst.append(time.perf_counter() - t0)
        return {"kernel_eps": kernel_eps, "catalyst_s": statistics.median(catalyst)}


def end_to_end(res: dict, workload: str) -> tuple[dict, list[str]]:
    """The end-to-end metrics and the report lines that explain them."""
    recs = res["records"]
    secs = [r["s"] for r in recs]
    n = len(secs)
    tail_s, tail_p = tail(secs)
    failed = sum(1 for r in recs if not r["ok"])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
        "op_p50_s": (statistics.median(op_medians(recs)), "s"),
    }
    starts = [round(x, 3) for x in res["setup_rounds_s"]]
    lines = [
        f"setup_s      {res['setup_s']:.4f} s  (median of {SETUP_ROUNDS} session starts {starts}"
        f" + check and {WARM_PASSES} warm passes {res['warm_s']:.3f} s)",
        f"wall_s       {res['wall_s']:.4f} s  sum of per-op medians over {res['passes']} passes",
        f"op_p50_s     {metrics['op_p50_s'][0]:.4f} s  median of per-op medians, n={n}",
        (f"op_tail_s    {tail_s:.4f} s  p{tail_p:.1f} n={n}" if tail_p > 50 else
         f"op_tail_s    not measured: n={n} ops, a tail needs at least 20"),
        f"error_rate   {failed / n:.4f}  ({failed}/{n} ops failed or mismatched)",
        f"peak_rss_mb  {res['peak_rss_mb']:.1f} MB  (driver JVM + Python workers)",
    ]
    if workload == PLANE_A:
        for kind, what in (("estimate", "scenarios estimated"),
                           ("persist", "envelopes written and read back")):
            ks = [r["s"] for r in recs if r["name"] == kind]
            lines.append(f"{kind + '_eps':<12} {res['items'][kind] / statistics.median(ks):.1f} 1/s"
                         f"  {what} per second, batch {PlaneAOps.batch[kind]}, n={len(ks)}")
    return metrics, lines


def per_layer(res: dict, workload: str, bench: Bench) -> tuple[dict, list[str]]:
    tr = res["trace"]
    spans = [s for s in tr["spans"] if s["op"] >= 0]
    groups = tr["groups"]
    op_ids = sorted({s["op"] for s in spans if s["layer"] == "op"})
    n = max(len(op_ids), 1)

    def span_s(layers) -> dict[int, float]:
        out = {i: 0.0 for i in op_ids}
        for s in spans:
            if s["layer"] in layers:
                out[s["op"]] += s["end"] - s["start"]
        return out

    def counter(layers, key) -> float:
        total = 0.0
        for gid, c in groups.items():
            layer, op, _ = gid.split("|", 2)
            if layer in layers and int(op) >= 0:
                total += c.get(key, 0.0)
        return total

    op_s = span_s(("op",))
    builder_s = span_s((BUILDER,))
    action = ACTION_LAYERS
    m = {
        "session.get_spark_s": statistics.median(bench.get_spark_s),
        "session.cold_start_s": bench.get_spark_s[0],
        "sources.read_table_s": sum(span_s(("sources.read_table",)).values()) / n,
        "sources.schema_jobs": counter(("sources.read_table",), "jobs") / n,
        "exec.scan_bytes": counter(action, "scan_bytes") / n,
        "plans.builder_s": sum(builder_s.values()) / n,
        "plans.builder_jobs": counter((BUILDER,), "jobs") / n,
        "plans.builder_share": sum(builder_s.values()) / max(sum(op_s.values()), 1e-9),
        "plans.materialized_bytes":
            sum(s.get("materialized_bytes", 0) for s in spans if s["layer"] == BUILDER) / n,
        "exec.s": sum(span_s(action).values()) / n,
    }
    for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "exchanges", "broadcasts", "python_nodes"):
        m[f"exec.{key}"] = counter(action, key) / n
    m["operators.python_rows"] = counter(action, "python_rows") / n
    m["operators.python_bytes"] = counter(action, "python_bytes") / n
    streams = tr["streams"]
    for key in ("batches", "input_rows", "trigger_ms", "add_batch_ms", "planning_ms",
                "wal_commit_ms", "state_rows", "state_mem_bytes", "state_commit_ms"):
        m[f"streaming.{key}"] = sum(c.get(key, 0.0) for c in streams.values()) / n
    stream_ops = [i for i in op_ids if streams.get(i, {}).get("batches")]
    m["streaming.harness_s"] = (
        sum(builder_s[i] - streams[i]["trigger_ms"] / 1000 for i in stream_ops) / len(stream_ops)
        if stream_ops else 0.0)

    est = {"estimator.kernel_eps": 0.0, "estimator.catalyst_s": 0.0,
           "estimator.udf_rows_per_scenario": 0.0,
           "estimator.persist_udf_rows_per_scenario": 0.0,
           "estimator.persist_write_s": 0.0, "estimator.persist_read_s": 0.0,
           "estimator.persist_bytes": 0.0, "estimate_eps": 0.0, "persist_eps": 0.0}
    if workload == PLANE_A:
        kind = {r["op"]: r["name"] for r in tr["records"]}
        rows = {"estimate": 0.0, "persist": 0.0}
        for gid, c in groups.items():
            _, op, _ = gid.split("|", 2)
            if int(op) >= 0:
                rows[kind[int(op)]] += c.get("python_rows", 0.0)
        count = {k: sum(1 for v in kind.values() if v == k) for k in rows}
        writes = [s["end"] - s["start"] for s in spans if s["layer"] == "estimator.persist_write"]
        reads = [s["end"] - s["start"] for s in spans if s["layer"] == "estimator.persist_read"]
        untraced = {k: statistics.median([r["s"] for r in res["records"] if r["name"] == k])
                    for k in rows}
        est.update({
            "estimator.kernel_eps": tr["estimator"]["kernel_eps"],
            "estimator.catalyst_s": tr["estimator"]["catalyst_s"],
            "estimator.udf_rows_per_scenario":
                rows["estimate"] / (PlaneAOps.batch["estimate"] * count["estimate"]),
            "estimator.persist_udf_rows_per_scenario":
                rows["persist"] / (PlaneAOps.batch["persist"] * count["persist"]),
            "estimator.persist_write_s": statistics.median(writes),
            "estimator.persist_read_s": statistics.median(reads),
            "estimator.persist_bytes": statistics.median(bench.ops.persist_bytes),
            "estimate_eps": res["items"]["estimate"] / untraced["estimate"],
            "persist_eps": res["items"]["persist"] / untraced["persist"],
        })
    m.update(est)
    # peak RSS moves by a third between runs of one seed (JVM heap growth),
    # too far for an end-to-end bound; it is reported here, from the
    # untraced passes
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.wall_s"] = tr["wall_s"]
    m["trace.overhead_s"] = tr["wall_s"] - res["wall_s"]
    lines = [f"{k:<42} {v:.4f}" for k, v in m.items()]
    return m, lines


UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_bytes": "bytes", "_eps": "1/s", "share": "ratio",
         "per_scenario": "ratio", "_mb": "MB"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def write_trace(args, box, res) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    tr = res["trace"]
    per_op: dict[int, dict] = {r["op"]: {"name": r["name"], "s": r["s"], "ok": r["ok"],
                                         "spans": [], "counters": {}, "streaming": {}}
                               for r in tr["records"]}
    for s in tr["spans"]:
        if s["op"] in per_op:
            per_op[s["op"]]["spans"].append(
                {"layer": s["layer"], "start": s["start"], "end": s["end"], "parent": s["parent"]})
    for gid, c in tr["groups"].items():
        layer, op, _ = gid.split("|", 2)
        if int(op) in per_op:
            per_op[int(op)]["counters"][layer] = dict(c)
    for op, c in tr["streams"].items():
        per_op[op]["streaming"] = dict(c)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "box": box,
                   "ops": [per_op[k] for k in sorted(per_op)]}, fh, indent=1)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    box = fit_box()
    try:
        import flink_estimator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(SF_DIR) or not os.path.isfile(EXPECTED):
        print(f"perfbench: fixtures or expected digests missing under {HERE}", file=sys.stderr)
        return 2
    box.update(sf=0.1, seed=args.seed, workload=args.workload, versions=versions())

    # a SIGTERM unwinds through the finally below like an exception, so the
    # JVM and its workers are stopped on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    bench = Bench(args, box)
    try:
        res = bench.run()
    finally:
        try:
            bench.stop_session()
        finally:
            stop_jvm()
            shutil.rmtree(bench.tmp, ignore_errors=True)

    report = [f"box {json.dumps(box, sort_keys=True)}"]
    for fam, (size, sample) in bench.families.items():
        report.append(f"family {fam}: {size} queries; {len(sample)} ops: {' '.join(sample)}")
    for err in res["mismatched"].values():
        report.append(f"MISMATCH {err}")
    e2e, lines = end_to_end(res, args.workload)
    report += lines
    correct = not res["mismatched"]
    if args.trace:
        layers, lines = per_layer(res, args.workload, bench)
        report += lines
        report.append(f"trace file {write_trace(args, box, res)}")
        # self-test: the noop sink computes the full result, so the estimate
        # op runs the kernel once per scenario (under .count() it would not)
        kernel_runs = layers.get("estimator.udf_rows_per_scenario")
        if args.workload == PLANE_A and kernel_runs != 1.0:
            report.append(f"SELF-TEST the estimate op ran the kernel {kernel_runs} times per "
                          "scenario, not 1.0")
            correct = False
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    recs = res["records"]
    failed = sum(1 for r in recs if not r["ok"])
    sys.stderr.flush()
    for line in report:
        print(f"# {line}")
    print(json.dumps({"correct": correct and failed == 0, "attempted": len(recs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
