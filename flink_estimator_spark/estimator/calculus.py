"""The Flink capacity-estimation calculus, re-implemented from scratch.

Semantics mirror the reference implementation observable behavior
(/root/reference/src/flink_estimator/estimation.py:101-597 and
models.py:12-84) bit-for-bit — including its quirks (see SURVEY.md §2.1):

* the state-sizing pass may grow the worker-node count, and the throughput
  pass reads the *grown* count (estimation.py:232,244,304-310,580);
* ``total_nodes`` is min(nodes-with-TMs, nodes-from-the-*throughput*-pass),
  not the final grown node count (estimation.py:326-327);
* ``capacity_analysis.total_flink_statements`` multiplies by the application
  count twice (estimation.py:389 on top of models.py:80);
* ``processing_load_score`` is the constant 1.0 (estimation.py:351);
* Python ``round`` (half-even) semantics everywhere a rounding appears.

This module is pure Python on purpose: it is the per-row kernel executed
inside the engine's Arrow-batched Pandas UDF (see ``engine.py``) *and* the
oracle used by the differential tests.  Everything scalar around it
(normalization, derived columns, JobManager tiers, scaling recommendations,
result-struct assembly) lives in ``engine.py`` as Catalyst column expressions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace
from typing import Optional

# ---------------------------------------------------------------------------
# Constants (reference: estimation.py:101-123, models.py:12-17)
# ---------------------------------------------------------------------------

OS_MEM_MB = 512

SIMPLE_RPS = 24000
MEDIUM_RPS = 11000
COMPLEX_RPS = 2500

JM_TSHIRT_CPU_MB = {"S": (1, 2048), "M": (2, 4096), "L": (4, 8192)}

TM_MEM_MB = 4096
TM_MM_PERCENT = 0.4
TM_PROCESS_MEMORY_MAX_MB = 64 * 1024
IN_FLIGHT_TO_BUFFER = 0.4
THROUGHPUT_BUFFER_K = 1.4
TM_VCPUS = 4

VM_TSHIRT_MB_CPU = {"S": (16384, 8), "M": (65536, 16), "L": (96448, 48)}

FIXPOINT_MAX_ITERS = 12

SCENARIO_FIELDS = (
    "project_name",
    "messages_per_second",
    "avg_record_size_bytes",
    "number_flink_applications",
    "num_distinct_keys",
    "data_skew_risk",
    "bandwidth_capacity_gbps",
    "expected_latency_seconds",
    "simple_statements",
    "medium_statements",
    "complex_statements",
    "worker_node_memory_mb",
    "worker_node_cpu_max",
    "nb_worker_nodes",
    "worker_node_type",
    "worker_node_t_size",
)


@dataclass
class Scenario:
    """One estimation request (reference: models.py:19-84 field set)."""

    project_name: str = "scenario"
    messages_per_second: int = 5000
    avg_record_size_bytes: int = 512
    number_flink_applications: int = 1
    num_distinct_keys: int = 100_000
    data_skew_risk: str = "low"
    bandwidth_capacity_gbps: int = 10
    expected_latency_seconds: float = 5.0
    simple_statements: int = 2
    medium_statements: int = 1
    complex_statements: int = 1
    worker_node_memory_mb: float = 16384.0
    worker_node_cpu_max: int = 8
    nb_worker_nodes: int = 1
    worker_node_type: str = "bare_metal"
    worker_node_t_size: Optional[str] = None

    @property
    def total_statements(self) -> int:
        return (
            self.simple_statements + self.medium_statements + self.complex_statements
        ) * self.number_flink_applications

    @property
    def total_throughput_mb_per_sec(self) -> float:
        return (self.messages_per_second * self.avg_record_size_bytes) / (1024 * 1024)


def validate_scenario(s: Scenario) -> list[str]:
    """Bounds/shape checks mirroring the reference's input validation
    (models.py:21-76).  Returns a list of error strings; empty == valid."""
    errs: list[str] = []
    if not s.project_name or not str(s.project_name).strip():
        errs.append("project_name: must be non-blank")
    elif len(str(s.project_name)) > 100:
        errs.append("project_name: longer than 100 characters")
    if s.messages_per_second is None or s.messages_per_second <= 0:
        errs.append("messages_per_second: must be > 0")
    if s.avg_record_size_bytes is None or s.avg_record_size_bytes <= 0:
        errs.append("avg_record_size_bytes: must be > 0")
    if s.number_flink_applications is None or s.number_flink_applications < 1:
        errs.append("number_flink_applications: must be >= 1")
    if s.num_distinct_keys is None or s.num_distinct_keys < 1:
        errs.append("num_distinct_keys: must be >= 1")
    if s.data_skew_risk not in ("low", "medium", "high"):
        errs.append("data_skew_risk: must be one of low|medium|high")
    if s.bandwidth_capacity_gbps is None or s.bandwidth_capacity_gbps <= 0:
        errs.append("bandwidth_capacity_gbps: must be > 0")
    if s.expected_latency_seconds is None or s.expected_latency_seconds <= 0:
        errs.append("expected_latency_seconds: must be > 0")
    for f in ("simple_statements", "medium_statements", "complex_statements"):
        v = getattr(s, f)
        if v is None or v < 0:
            errs.append(f"{f}: must be >= 0")
    if s.worker_node_memory_mb is None or not (0 < s.worker_node_memory_mb <= 512 * 1024):
        errs.append("worker_node_memory_mb: must be in (0, 524288]")
    if s.worker_node_cpu_max is None or not (2 <= s.worker_node_cpu_max <= 256):
        errs.append("worker_node_cpu_max: must be in [2, 256]")
    if s.nb_worker_nodes is None or s.nb_worker_nodes < 1:
        errs.append("nb_worker_nodes: must be >= 1")
    if s.worker_node_type not in ("bare_metal", "VM"):
        errs.append("worker_node_type: must be bare_metal|VM")
    if s.worker_node_type == "VM" and s.worker_node_t_size is None:
        errs.append("worker_node_t_size: required when worker_node_type is VM")
    if s.worker_node_t_size is not None and s.worker_node_t_size not in ("S", "M", "L"):
        errs.append("worker_node_t_size: must be S|M|L")
    return errs


def normalize_scenario(s: Scenario) -> Scenario:
    """T-shirt normalization: a VM worker's memory/cpu come from the size table
    (models.py:67-76, re-applied at estimation.py:601-606)."""
    out = replace(s, project_name=str(s.project_name).strip())
    if out.worker_node_type == "VM" and out.worker_node_t_size is not None:
        mem_mb, cpus = VM_TSHIRT_MB_CPU[out.worker_node_t_size]
        out.worker_node_memory_mb = float(mem_mb)
        out.worker_node_cpu_max = cpus
    return out


# ---------------------------------------------------------------------------
# Scalar step functions
# ---------------------------------------------------------------------------


def managed_memory_percent(latency_s: float) -> float:
    """Tighter latency leaves a smaller fraction of process memory for managed
    state (estimation.py:126-137)."""
    if latency_s <= 0.5:
        return 0.32
    if latency_s <= 1.0:
        return 0.35
    if latency_s < 5.0:
        return 0.38
    return TM_MM_PERCENT


def latency_cpu_factor(latency_s: float) -> float:
    """CPU multiplier by latency tier (estimation.py:408-415)."""
    if latency_s <= 0.5:
        return 1.5
    if latency_s <= 1.0:
        return 1.2
    if latency_s < 5.0:
        return 1.1
    return 1.0


def jobmanager_size(num_distinct_keys: int) -> tuple[int, int]:
    """JM (cpu, memory MB) tier by distinct-key count (estimation.py:418-425)."""
    if num_distinct_keys <= 10_000_000:
        tier = "S"
    elif num_distinct_keys <= 100_000_000:
        tier = "M"
    else:
        tier = "L"
    return JM_TSHIRT_CPU_MB[tier]


def state_process_memory_mb(s: Scenario) -> float:
    """State-driven Flink process memory (estimation.py:140-159): managed-state
    bytes (keys x stateful statements x apps x record size) scaled up by the
    latency-dependent managed fraction."""
    managed_mb = math.ceil(
        s.num_distinct_keys
        * (s.medium_statements + s.complex_statements)
        * s.number_flink_applications
        * s.avg_record_size_bytes
        / (1024 * 1024)
    )
    return managed_mb / managed_memory_percent(s.expected_latency_seconds)


def network_buffer_mb(s: Scenario, total_throughput_mb_per_sec: float, nb_tm: int) -> int:
    """Per-TM network/in-flight/shuffle buffer memory headroom
    (estimation.py:162-191)."""
    n = max(1, nb_tm)
    thr_per_tm = total_throughput_mb_per_sec / n
    lat = max(s.expected_latency_seconds, 0.01)
    in_flight_per_tm = total_throughput_mb_per_sec * min(lat, 30.0) / n
    if s.expected_latency_seconds <= 0.5:
        pressure = 2.0
    elif s.expected_latency_seconds <= 1.0:
        pressure = 1.5
    elif s.expected_latency_seconds < 5.0:
        pressure = 1.15
    else:
        pressure = 1.0
    rec_kib = max(100, s.avg_record_size_bytes) / 1024.0
    rec_scale = 1.0 + 0.02 * min(rec_kib, 64.0)
    pipe = max(1, s.total_statements)
    total = (
        thr_per_tm * THROUGHPUT_BUFFER_K * rec_scale * pressure
        + IN_FLIGHT_TO_BUFFER * in_flight_per_tm
        + 256.0 * (1.0 + 0.01 * float(pipe))
    )
    return max(0, int(math.ceil(total)))


def per_tm_cap_mb(s: Scenario) -> int:
    """Upper bound for one TM process (estimation.py:194-202): never above
    64 GiB, never above what fits beside the OS on one worker."""
    return min(TM_PROCESS_MEMORY_MAX_MB, max(int(s.worker_node_memory_mb) - OS_MEM_MB, TM_MEM_MB))


# ---------------------------------------------------------------------------
# Placement (greedy bin-packing with node growth)
# ---------------------------------------------------------------------------


def free_mem_per_node(s: Scenario, jm_memory: int, nb_nodes: int) -> tuple[list[float], float]:
    """Free memory per worker after the OS reserve; node 0 additionally hosts
    the JobManagers (one per application) (estimation.py:483-495)."""
    per_node = [s.worker_node_memory_mb - OS_MEM_MB for _ in range(nb_nodes)]
    per_node[0] -= jm_memory * s.number_flink_applications
    return per_node, sum(per_node)


def greedy_pack(f0: float, f: float, nb_nodes: int, nb_tm: int, tm_mem_mb: int) -> list[int]:
    """Most-free-node-first placement, ties to the lowest index
    (estimation.py:428-457), over node 0 with free memory ``f0`` and
    ``nb_nodes - 1`` nodes with free memory ``f``.  Returns the
    TaskManagers per node; fewer than ``nb_tm`` in all when the nodes run
    out of room.

    Closed form of the reference's pick-one-TM-at-a-time scan: the other
    nodes all hold ``f - k*m`` after ``k`` TMs, so they fill in levels
    ``k = 0 .. f//m - 1``, one TM each in index order per level; node 0
    takes its next TM ahead of a level whenever it holds at least that
    level's free memory (ties go to index 0), and fills what it has left
    after the last level.  The loop runs at most ``f//m`` levels (under 128
    in the kernel, where ``m >= 4096``) whatever the node and TM counts.
    The float subtractions are exact: each result lies in ``[0, free]`` and
    is a multiple of the free value's ulp."""
    m, others = tm_mem_mb, nb_nodes - 1
    placed = on0 = levels = partial = 0
    for k in range(int(f // m)):
        level_free = f - k * m
        while placed < nb_tm and f0 - on0 * m >= level_free:
            on0 += 1
            placed += 1
        take = min(others, nb_tm - placed)
        placed += take
        if take < others:
            partial = take
            break
        levels += 1
    else:
        on0 += max(0, min(nb_tm - placed, int(f0 // m) - on0))
    return [on0] + [levels + 1] * partial + [levels] * (others - partial)


class PlacementError(ValueError):
    """No worker node can host even one TaskManager (estimation.py:226-230)."""


def place_with_growth(
    s: Scenario, jm_memory: int, nb_tm: int, tm_mem_mb: int, nb_nodes: int
) -> tuple[int, list[int], int]:
    """Grow the node count until the TMs pack, then return
    (total memory MB, per-node allocation, grown node count)
    (estimation.py:205-244 — node-count mutation made explicit here).

    The reference adds one node while the free memory falls short of the
    TMs' total, and again while the greedy packing fails.  Both tests pass
    from some node count on (each added node brings the same free memory and
    the same number of TM slots), so the grown count is the larger of the
    two thresholds, and the packing runs once, at that count."""
    required = nb_tm * tm_mem_mb
    free, total_free = free_mem_per_node(s, jm_memory, nb_nodes)
    if max(free) < tm_mem_mb:
        raise PlacementError(
            f"No worker can host a {tm_mem_mb} MB task manager: "
            f"max free memory on a node is {max(free)} MB. "
            "Increase worker_node_memory (or use a larger VM t-shirt) "
            "so each node can hold at least one TM."
        )
    # every added node contributes the same free memory, so jump straight
    # to the first count whose float sum of free memory is sufficient
    # (estimation.py:231-233)
    per_new_node = s.worker_node_memory_mb - OS_MEM_MB
    while total_free < required:
        nb_nodes += max(1, math.ceil((required - total_free) / per_new_node))
        free, total_free = free_mem_per_node(s, jm_memory, nb_nodes)
    # then to the first count with a TM slot for every TM: node 0 has
    # f0 // m slots, every other node f // m >= 1 (the check above)
    slots0 = max(0, int(free[0] // tm_mem_mb))
    slots = int(per_new_node // tm_mem_mb)
    nb_nodes = max(nb_nodes, 1 + -(-max(0, nb_tm - slots0) // slots))
    alloc = greedy_pack(free[0], per_new_node, nb_nodes, nb_tm, tm_mem_mb)
    return jm_memory + required, alloc, nb_nodes


# ---------------------------------------------------------------------------
# Sizing passes
# ---------------------------------------------------------------------------


def taskmanagers_from_state(
    s: Scenario, jm_memory: int, nb_nodes: int, tm_mem_mb: int = TM_MEM_MB
) -> tuple[int, int, list[int], float, int]:
    """State pass (estimation.py:460-481): provision 4-GiB TMs to cover the
    state-driven process memory and place them (growing nodes as needed).
    Returns (total mem, TM count, allocation, raw process MB, grown nodes)."""
    raw = state_process_memory_mb(s)
    total_flink = max(TM_MEM_MB, raw)
    nb_tm = max(1, math.ceil(total_flink / tm_mem_mb))
    total_mem, alloc, nb_nodes = place_with_growth(s, jm_memory, nb_tm, tm_mem_mb, nb_nodes)
    return total_mem, nb_tm, alloc, raw, nb_nodes


def taskmanagers_from_throughput(
    s: Scenario, total_throughput_mb_per_sec: float, jm_cpu: int, nb_nodes: int
) -> tuple[int, int, int]:
    """Throughput pass (estimation.py:556-597): per-complexity-class CPU demand
    with a 4-core cap per statement, latency multiplier, JM cores, times the
    application count; then node growth by CPU capacity.
    Returns (TM count, total CPU, node count)."""
    rec = s.avg_record_size_bytes
    simple_mbps = SIMPLE_RPS * rec / (1024 * 1024)
    medium_mbps = MEDIUM_RPS * rec / (1024 * 1024)
    complex_mbps = COMPLEX_RPS * rec / (1024 * 1024)
    cpu_simple = min(TM_VCPUS, total_throughput_mb_per_sec / simple_mbps) * s.simple_statements
    cpu_medium = min(TM_VCPUS, total_throughput_mb_per_sec / medium_mbps) * s.medium_statements
    cpu_complex = min(TM_VCPUS, total_throughput_mb_per_sec / complex_mbps) * s.complex_statements
    total_cpu = (
        math.ceil(
            (cpu_simple + cpu_medium + cpu_complex)
            * latency_cpu_factor(s.expected_latency_seconds)
            + jm_cpu
        )
        * s.number_flink_applications
    )
    if s.worker_node_type == "VM" and s.worker_node_t_size is not None:
        cores_per_node = VM_TSHIRT_MB_CPU[s.worker_node_t_size][1]
    else:
        cores_per_node = s.worker_node_cpu_max
    # closed form of the reference's grow-while loop (estimation.py:585-589)
    if cores_per_node > 0 and nb_nodes * cores_per_node < total_cpu:
        nb_nodes = math.ceil(total_cpu / cores_per_node)
    nb_tm = math.ceil((total_cpu - jm_cpu) / TM_VCPUS)
    return nb_tm, total_cpu, nb_nodes


def resolve_tm_memory(
    s: Scenario,
    total_throughput_mb_per_sec: float,
    raw_process_mb: float,
    nb_tm_state: int,
    nb_tm_cpu: int,
) -> tuple[int, int]:
    """Fixpoint of per-TM memory P vs TM count N (estimation.py:247-281):
    P must cover state-per-TM and buffer headroom but fit the worker cap;
    N must cover the total state at P and the CPU-driven count."""
    cap = per_tm_cap_mb(s)
    per_tm_state = math.ceil(max(TM_MEM_MB, raw_process_mb) / max(1, nb_tm_state))
    p, n = TM_MEM_MB, max(nb_tm_state, nb_tm_cpu)
    for _ in range(FIXPOINT_MAX_ITERS):
        buffer_mb = network_buffer_mb(s, total_throughput_mb_per_sec, n)
        p_new = min(max(TM_MEM_MB, per_tm_state, buffer_mb), cap)
        n_new = max(
            max(1, math.ceil(max(TM_MEM_MB, raw_process_mb) / p_new)),
            nb_tm_cpu,
        )
        if p_new == p and n_new == n:
            return p_new, n_new
        p, n = p_new, n_new
    return p, n


# ---------------------------------------------------------------------------
# The full pipeline for one scenario
# ---------------------------------------------------------------------------


@dataclass
class SizingCore:
    """Everything the iterative core produces for one scenario row.  The
    engine's Pandas UDF returns exactly this struct; the rest of the result
    (summary/scaling/capacity) is Catalyst column expressions."""

    jm_cpu: int = 0
    jm_memory: int = 0
    raw_state_process_mb: float = 0.0
    nb_tm_state: int = 0
    nb_tm_cpu: int = 0
    total_cpu_throughput: int = 0
    nodes_from_cpu: int = 0
    tm_process_memory_mb: int = 0
    nb_task_managers: int = 0
    total_cpu_needs: int = 0
    total_memory_mb: int = 0
    node_allocations: list[int] = field(default_factory=list)
    nb_worker_nodes_final: int = 0
    total_nodes: int = 0
    error: Optional[str] = None


def sizing_core(s: Scenario) -> SizingCore:
    """Steps 3-6 of the reference lifecycle (SURVEY.md §3.1): JM tier, state
    pass, throughput pass, memory/count fixpoint, final placement.  The
    worker-node count is threaded explicitly through the same mutation order
    the reference uses (state growth feeds the throughput pass; the final
    placement grows independently; ``total_nodes`` caps at the throughput-pass
    node count — estimation.py:304-327)."""
    out = SizingCore()
    try:
        thr = s.total_throughput_mb_per_sec
        out.jm_cpu, out.jm_memory = jobmanager_size(s.num_distinct_keys)
        nb_nodes = s.nb_worker_nodes
        _, out.nb_tm_state, _, out.raw_state_process_mb, nb_nodes = taskmanagers_from_state(
            s, out.jm_memory, nb_nodes
        )
        out.nb_tm_cpu, out.total_cpu_throughput, out.nodes_from_cpu = taskmanagers_from_throughput(
            s, thr, out.jm_cpu, nb_nodes
        )
        out.tm_process_memory_mb, out.nb_task_managers = resolve_tm_memory(
            s, thr, out.raw_state_process_mb, out.nb_tm_state, out.nb_tm_cpu
        )
        out.total_cpu_needs = max(
            out.total_cpu_throughput, out.nb_task_managers * TM_VCPUS
        )
        out.total_memory_mb, out.node_allocations, nb_nodes = place_with_growth(
            s, out.jm_memory, out.nb_task_managers, out.tm_process_memory_mb, nb_nodes
        )
        out.nb_worker_nodes_final = nb_nodes
        non_zero = len(out.node_allocations) - out.node_allocations.count(0)
        out.total_nodes = min(non_zero, out.nodes_from_cpu)
    except (PlacementError, ValueError) as exc:
        out.error = str(exc)
    return out


def scaling_recommendations(s: Scenario, tm_total_cpus: int) -> dict:
    """Skew/latency-driven parallelism bands and checkpoint interval
    (estimation.py:500-553).  The Spark engine expresses this as column
    expressions; this copy is the oracle."""
    processing_load = 1
    keys = s.num_distinct_keys
    if s.data_skew_risk == "high":
        min_par = max(1, tm_total_cpus // 3)
        rec_par = max(tm_total_cpus // 2, min(keys // 1000, tm_total_cpus))
        max_par = tm_total_cpus
        base_ckpt = min(60000, max(10000, 15000 + int(processing_load * 1000)))
    elif s.data_skew_risk == "medium":
        min_par = max(1, tm_total_cpus // 2)
        rec_par = min(tm_total_cpus, max(tm_total_cpus // 2, keys // 2000))
        max_par = tm_total_cpus * 2
        base_ckpt = min(60000, max(5000, 10000 + int(processing_load * 1000)))
    else:
        min_par = max(1, tm_total_cpus // 2)
        rec_par = tm_total_cpus
        max_par = tm_total_cpus * 2
        base_ckpt = min(60000, max(5000, 8000 + int(processing_load * 1000)))

    lat = s.expected_latency_seconds
    if lat <= 0.5:
        ckpt = min(base_ckpt, 5000)
    elif lat <= 1.0:
        ckpt = min(base_ckpt, 10000)
    elif lat <= 5.0:
        ckpt = min(base_ckpt, 20000)
    else:
        ckpt = base_ckpt

    if lat <= 1.0:
        boost = max(1, int(2.0 / lat))
        rec_par = min(max_par, rec_par * boost)

    return {
        "min_parallelism": min_par,
        "recommended_parallelism": rec_par,
        "max_parallelism": max_par,
        "checkpointing_interval_ms": ckpt,
    }


def estimate_scenario(s: Scenario) -> dict:
    """End-to-end estimation for one scenario — the pure-Python oracle
    mirroring the reference orchestrator (estimation.py:284-405).  Returns the
    nested result as plain dicts (on validation/placement failure only the
    ``error`` key is populated, mirroring the reference's HTTP 400/500)."""
    errs = validate_scenario(s)
    if errs:
        return {"error": "; ".join(errs)}
    s = normalize_scenario(s)
    core = sizing_core(s)
    if core.error is not None:
        return {"error": core.error}
    thr = s.total_throughput_mb_per_sec
    tm_total_mem = math.ceil(core.nb_task_managers * core.tm_process_memory_mb)
    memory_mb_each = (
        round(tm_total_mem / core.nb_task_managers, 0) if core.nb_task_managers else 0.0
    )
    tm_total_cpus = math.ceil(core.total_cpu_needs - core.jm_cpu)
    result = {
        "input_summary": {
            "messages_per_second": s.messages_per_second,
            "avg_record_size_bytes": s.avg_record_size_bytes,
            "total_throughput_mb_per_sec": round(thr, 2),
            "num_distinct_keys": s.num_distinct_keys,
            "data_skew_risk": s.data_skew_risk,
            "bandwidth_capacity_mbps": int(round(s.bandwidth_capacity_gbps * 1000)),
            "expected_latency_seconds": s.expected_latency_seconds,
            "simple_statements": s.simple_statements,
            "medium_statements": s.medium_statements,
            "complex_statements": s.complex_statements,
            "total_statements": s.total_statements,
            "worker_node_memory_capacity_mb": float(s.worker_node_memory_mb),
            "worker_node_cpu_capacity": s.worker_node_cpu_max,
            "nb_worker_nodes": core.nb_worker_nodes_final,
            "worker_node_t_size": s.worker_node_t_size,
        },
        "resource_estimates": {
            "total_memory_mb": math.ceil(core.total_memory_mb),
            "total_cpus": math.ceil(core.total_cpu_needs),
            "total_worker_node_needed": math.ceil(core.total_nodes),
            "processing_load_score": 1.0,
        },
        "cluster_recommendations": {
            "jobmanager": {
                "count": 1,
                "memory_mb": math.ceil(core.jm_memory),
                "total_cpus": float(core.jm_cpu),
            },
            "taskmanagers": {
                "count": core.nb_task_managers,
                "total_memory_mb": tm_total_mem,
                "total_cpus": tm_total_cpus,
                "memory_mb_each": memory_mb_each,
            },
        },
        "scaling_recommendations": scaling_recommendations(s, tm_total_cpus),
        "capacity_analysis": {
            "total_flink_statements": s.total_statements * s.number_flink_applications,
            "total_flink_applications": s.number_flink_applications,
        },
        "error": None,
    }
    return result
